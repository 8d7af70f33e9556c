"""id→centroid lookup beside the IVF index (operators/ann_lookup.py): the
locate step of deletion as a bucket-pruned point read instead of an index
scan, maintained partition-scoped through adds and deletes."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from vacancy_analyser_spark.operators.ann_lookup import (
    build_lookup,
    locate,
    refresh_lookup_buckets,
)
from vacancy_analyser_spark.plans.similarity import (
    _vectors,
    auto_centroids,
    ivf_build_index_frame,
    ivf_index_delete,
    ivf_index_incremental_add,
)


def _scan_locate(spark, path, id_set):
    idx = spark.read.parquet(os.path.join(path, "vectors"))
    return {
        (r["vec_id"], r["centroid_id"])
        for r in idx.select("vec_id", F.col("centroid_id").cast("bigint").alias("centroid_id")).collect()
        if r["vec_id"] in id_set
    }


def test_locate_matches_scan_and_prunes_buckets(spark, sf_dir, tmp_path):
    vecs = _vectors(spark, sf_dir)
    path = str(tmp_path / "ivf_lk")
    ivf_build_index_frame(vecs, path, n_centroids=auto_centroids(vecs.count()))
    build_lookup(spark, path)

    ids = vecs.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 5).select("vec_id")
    id_set = {r["vec_id"] for r in ids.collect()}
    got_df = locate(spark, path, ids)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("bucket" in p for p in pfs)  # bucket pruning is planning-time
    got = {(r["vec_id"], r["centroid_id"]) for r in got_df.collect()}
    assert got == _scan_locate(spark, path, id_set)


def test_refresh_tracks_add_and_delete_changesets(spark, sf_dir, tmp_path):
    """After an add and a delete, refreshing ONLY the changed ids' buckets
    brings the lookup back to scan truth; buckets no id of which changed
    stay byte-identical on disk."""
    import hashlib

    vecs = _vectors(spark, sf_dir)
    part = F.pmod(F.col("vec_id"), F.lit(8))
    base = vecs.filter(part != 7)
    batch = vecs.filter(part == 7)
    path = str(tmp_path / "ivf_lk2")
    ivf_build_index_frame(base, path, n_centroids=auto_centroids(base.count()))
    lookup_dir = build_lookup(spark, path)

    def _digests():
        out = {}
        for root, _d, files in os.walk(lookup_dir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, lookup_dir)] = hashlib.md5(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = _digests()
    ivf_index_incremental_add(spark, path, batch)
    dels = base.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 4).select("vec_id")
    ivf_index_delete(spark, path, dels)
    changed = batch.select("vec_id").union(dels)
    refreshed = refresh_lookup_buckets(spark, path, changed)
    assert refreshed

    all_ids = {r["vec_id"] for r in vecs.select("vec_id").collect()}
    want = _scan_locate(spark, path, all_ids)
    got = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(lookup_dir).select("vec_id", "centroid_id").collect()
    }
    assert got == want  # lookup == scan truth after partition-scoped refresh

    after = _digests()
    refreshed_prefixes = tuple(f"bucket={b}" for b in refreshed)
    for rel, meta in before.items():
        if not rel.startswith(refreshed_prefixes):
            assert after.get(rel) == meta, f"untouched bucket changed: {rel}"


def test_locate_driven_delete_matches_scan_driven(spark, sf_dir, tmp_path):
    """ivf_index_delete fed the lookup's located partitions (touched=...)
    must produce the identical post-delete index as the scan-based
    locate, and the delete job itself must not need the whole-index
    semi-join — the zero-whole-index-read takedown composition
    (ann_index_delete_lookup drives it driver-checked)."""
    vecs = _vectors(spark, sf_dir)
    k = auto_centroids(vecs.count())
    dels = vecs.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 5).select("vec_id")

    path_scan = str(tmp_path / "ivf_scan")
    ivf_build_index_frame(vecs, path_scan, n_centroids=k)
    t_scan = ivf_index_delete(spark, path_scan, dels)

    path_lk = str(tmp_path / "ivf_lkdel")
    ivf_build_index_frame(vecs, path_lk, n_centroids=k)
    build_lookup(spark, path_lk)
    touched = sorted(
        r["centroid_id"]
        for r in locate(spark, path_lk, dels).select("centroid_id").distinct().collect()
    )
    t_lk = ivf_index_delete(spark, path_lk, dels, touched=touched)
    assert t_lk == t_scan

    def _content(p):
        return {
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(os.path.join(p, "vectors"))
            .select("vec_id", "centroid_id")
            .collect()
        }

    assert _content(path_lk) == _content(path_scan)

    # maintained lookup stays consistent with the rewritten index
    refreshed = refresh_lookup_buckets(spark, path_lk, dels)
    assert refreshed
    got = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path_lk, "lookup"))
        .select("vec_id", F.col("centroid_id").cast("bigint").alias("centroid_id"))
        .collect()
    }
    assert got == _content(path_lk)


def test_nested_layout_lookup_drives_zero_index_read_delete(spark, sf_dir, tmp_path):
    """The lookup generalized to the layout's FULL partition key: on the
    two-level layout, locate returns complete (coarse_id, centroid_id)
    victim tuples from a bucket-pruned point read (plan-asserted — no
    index scan), the delete consumes them via touched=, and the refreshed
    lookup equals the rewritten index's scan truth including coarse_id."""
    from vacancy_analyser_spark.plans.similarity import IVF2, auto_centroids

    cols = ("coarse_id", "centroid_id")
    vecs = _vectors(spark, sf_dir)
    k = auto_centroids(vecs.count())
    path = str(tmp_path / "ivf2_lk")
    IVF2.build(vecs, path, k)
    build_lookup(spark, path)

    dels = vecs.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 5).select("vec_id")
    located = locate(spark, path, dels)
    plan = located._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("bucket" in p for p in pfs)  # point read, never the index
    assert "vectors" not in plan  # zero whole-index reads in locate

    touched = sorted(
        (r["coarse_id"], r["centroid_id"])
        for r in located.select(*cols).distinct().collect()
    )
    assert touched and all(len(t) == 2 for t in touched)
    got_touched = ivf_index_delete(spark, path, dels, touched=touched)
    assert got_touched == touched

    refreshed = refresh_lookup_buckets(spark, path, dels)
    assert refreshed
    idx_truth = {
        (r["vec_id"], r["coarse_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "vectors"))
        .select("vec_id", *[F.col(c).cast("bigint").alias(c) for c in cols])
        .collect()
    }
    lk_truth = {
        (r["vec_id"], r["coarse_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "lookup"))
        .select("vec_id", *cols)
        .collect()
    }
    assert lk_truth == idx_truth
    del_set = {r["vec_id"] for r in dels.collect()}
    assert not (del_set & {v for v, _, _ in lk_truth})
