"""LAYOUT_SCHEMAS (plans/similarity.py) / LSH_*_SCHEMA (plans/dedup.py)
equality pins.

Serve keys read index-interior tables with STATIC per-layout schemas so
they pay zero footer-inference jobs (the r12 verdict's named r13 slice).
That is only sound while the constants equal what inference would return
on a freshly built index of each layout — these tests rebuild every
layout tiny and compare, so a builder change that drifts a schema fails
HERE instead of silently nulling a column in a serve key.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from vacancy_analyser_spark.plans.similarity import (
    FLAT,
    IVF2,
    IVFPQ,
    LAYOUT_SCHEMAS,
    SPLIT,
    _vectors,
    auto_centroids,
    index_layout,
    ivf_build_index_frame,
)

#: the layout record each fixture directory was built with
_BUILT = {"ivf": FLAT, "ivfpq": IVFPQ, "ivf2": IVF2, "split": SPLIT}


def _ddl(spark, path: str) -> list[tuple[str, T.DataType]]:
    """(name, type) pairs of the INFERRED schema — nullability ignored
    (explicit read schemas are nullable-normalized by Spark anyway)."""
    return [(f.name, f.dataType) for f in spark.read.parquet(path).schema.fields]


def _const(schema_str: str) -> list[tuple[str, T.DataType]]:
    st = T.StructType.fromDDL(schema_str)
    return [(f.name, f.dataType) for f in st.fields]


@pytest.fixture(scope="module")
def layout_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("layouts"))
    vecs = _vectors(spark, sf_dir).select("vec_id", "embedding")
    n = vecs.count()
    k = auto_centroids(n)
    ivf_build_index_frame(vecs, os.path.join(root, "ivf"), n_centroids=k)
    IVFPQ.build(vecs, os.path.join(root, "ivfpq"), n_centroids=k)
    IVF2.build(vecs, os.path.join(root, "ivf2"), k)
    SPLIT.build(vecs, os.path.join(root, "split"))
    return root


@pytest.mark.parametrize(
    "layout,table,kind",
    [
        ("ivf", "centroids", "centroids"),
        ("ivf", "vectors", "vectors"),
        ("ivfpq", "centroids", "centroids"),
        ("ivfpq", "codebook", "codebook"),
        ("ivfpq", "vectors", "vectors_ivfpq"),
        ("ivf2", "coarse", "coarse"),
        ("ivf2", "fine", "fine"),
        ("ivf2", "vectors", "vectors_ivf2"),
        ("split", "centroids", "centroids"),
        ("split", "sub_centroids", "sub_centroids"),
        ("split", "vectors", "vectors_split"),
    ],
)
def test_layout_constant_matches_inference(spark, layout_root, layout, table, kind):
    # the index directory resolves to the record it was built with
    assert index_layout(spark, os.path.join(layout_root, layout), None) is _BUILT[layout]
    inferred = _ddl(spark, os.path.join(layout_root, layout, table))
    assert inferred == _const(LAYOUT_SCHEMAS[kind]), (
        f"{layout}/{table}: builder output drifted from LAYOUT_SCHEMAS[{kind!r}]"
    )


@pytest.mark.parametrize(
    "layout,pcols,kind",
    [
        ("ivf", ("centroid_id",), "lookup"),
        ("ivf2", ("coarse_id", "centroid_id"), "lookup_ivf2"),
        ("split", ("centroid_id", "sub_id"), "lookup_split"),
    ],
)
def test_lookup_constant_matches_inference(spark, layout_root, layout, pcols, kind):
    from vacancy_analyser_spark.operators.ann_lookup import build_lookup

    path = os.path.join(layout_root, layout)
    # the index directory resolves to its own record and partition key
    found = index_layout(spark, path, None)
    assert found is _BUILT[layout] and found.partition_cols == pcols
    build_lookup(spark, path)
    inferred = _ddl(spark, os.path.join(layout_root, layout, "lookup"))
    assert inferred == _const(LAYOUT_SCHEMAS[kind]), (
        f"{layout}/lookup drifted from LAYOUT_SCHEMAS[{kind!r}]"
    )


def test_lsh_constants_match_inference(spark, sf_dir, tmp_path):
    from vacancy_analyser_spark.plans.dedup import (
        LSH_BANDS_SCHEMA,
        LSH_SIGS_SCHEMA,
        lsh_build_index,
    )

    path = str(tmp_path / "lsh")
    lsh_build_index(spark, sf_dir, path)
    assert _ddl(spark, os.path.join(path, "sigs")) == _const(LSH_SIGS_SCHEMA)
    assert _ddl(spark, os.path.join(path, "bands")) == _const(LSH_BANDS_SCHEMA)
