"""ivf_global_retrain (plans/similarity.py): the consumer of the
whole-index retrain verdict — rebuild on current content, atomic swap,
lookup rebuild. The driver key ann_global_retrain hashes the composed
result against the conditional oracle; these tests pin the branches and
crash states the oracle can't see."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from vacancy_analyser_spark.operators.ann_lookup import build_lookup
from vacancy_analyser_spark.plans.similarity import (
    auto_centroids,
    ivf_build_index_frame,
    ivf_global_retrain,
    ivf_index_incremental_add,
)


def _mk_drifted_index(spark, path):
    """Base build over cluster A; cluster B arrives as an add — the
    current content (A ∪ B) is what a retrain must train on."""
    base = spark.createDataFrame(
        [(i, [1.0, 0.0, (i % 5) * 0.01]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    drift = spark.createDataFrame(
        [(100 + i, [0.0, 1.0, (i % 5) * 0.01]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    ivf_build_index_frame(base, path, n_centroids=2)
    ivf_index_incremental_add(spark, path, drift)
    return base.unionByName(drift)


def _assignment(spark, path):
    return {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "vectors"))
        .select("vec_id", F.col("centroid_id").cast("bigint").alias("centroid_id"))
        .collect()
    }


def _verdict(spark, flag):
    return spark.createDataFrame([(flag,)], "index_retrain boolean")


def _tree_digest(root):
    out = {}
    for dirpath, _d, names in os.walk(root):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = (
                os.path.getsize(p),
                os.path.getmtime(p),
            )
    return out


def test_false_verdict_is_a_provable_noop(spark, tmp_path):
    path = str(tmp_path / "idx")
    _mk_drifted_index(spark, path)
    before = _tree_digest(path)
    assert ivf_global_retrain(spark, path, _verdict(spark, False)) is False
    assert _tree_digest(path) == before  # nothing rewritten, nothing staged
    assert not os.path.exists(path + "__rebuild")
    assert not os.path.exists(path + "__retired")


def test_retrain_rebuilds_on_current_content_and_swaps(spark, tmp_path):
    path = str(tmp_path / "idx2")
    content = _mk_drifted_index(spark, path)
    build_lookup(spark, path)
    stale = _assignment(spark, path)

    assert ivf_global_retrain(spark, path, _verdict(spark, True)) is True
    # swap left no intermediate state behind
    assert not os.path.exists(path + "__rebuild")
    assert not os.path.exists(path + "__retired")

    # rebuild equivalence: identical to a from-scratch build of the
    # current content (deterministic trainer, same auto-k)
    ref = str(tmp_path / "ref")
    ivf_build_index_frame(content, ref, n_centroids=auto_centroids(content.count()))
    got = _assignment(spark, path)
    assert got == _assignment(spark, ref)
    # the drifted cluster was actually re-homed (stale != retrained)
    assert got != stale

    # the lookup was rebuilt against the NEW centroids
    lk = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "lookup"))
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert lk == got


def test_leftover_crash_dirs_are_swept(spark, tmp_path):
    """A crashed prior attempt leaves __rebuild and/or __retired behind;
    the next retrain must sweep them and still publish a clean swap."""
    path = str(tmp_path / "idx3")
    content = _mk_drifted_index(spark, path)
    for leftover in (path + "__rebuild", path + "__retired"):
        os.makedirs(leftover)
        open(os.path.join(leftover, "junk"), "w").write("stale attempt")

    assert ivf_global_retrain(spark, path, _verdict(spark, True)) is True
    assert not os.path.exists(path + "__rebuild")
    assert not os.path.exists(path + "__retired")
    ref = str(tmp_path / "ref3")
    ivf_build_index_frame(content, ref, n_centroids=auto_centroids(content.count()))
    assert _assignment(spark, path) == _assignment(spark, ref)


def test_crash_between_renames_recovers_from_rebuild(spark, tmp_path):
    """The between-renames crash state (step 2 done, step 3 not): live
    index missing, BOTH __rebuild and __retired are complete. A rerun
    must complete the interrupted publish — NOT sweep the two surviving
    copies and then fail on the missing live path (total index loss on
    the documented recovery path)."""
    path = str(tmp_path / "idxcr")
    content = _mk_drifted_index(spark, path)
    # stage a complete rebuild, then simulate the crash exactly between
    # rename(live -> retired) and rename(rebuild -> live)
    ivf_build_index_frame(
        content, path + "__rebuild", n_centroids=auto_centroids(content.count())
    )
    os.rename(path, path + "__retired")
    assert not os.path.exists(path)

    assert ivf_global_retrain(spark, path, _verdict(spark, True)) is True
    assert not os.path.exists(path + "__rebuild")
    assert not os.path.exists(path + "__retired")
    ref = str(tmp_path / "refcr")
    ivf_build_index_frame(content, ref, n_centroids=auto_centroids(content.count()))
    assert _assignment(spark, path) == _assignment(spark, ref)


def test_crash_with_only_retired_recovers(spark, tmp_path):
    """Live index missing and only __retired survives (staging lost or
    never completed): the retired copy must be renamed back into place,
    never deleted."""
    path = str(tmp_path / "idxrt")
    _mk_drifted_index(spark, path)
    before = _assignment(spark, path)
    os.rename(path, path + "__retired")

    # even on a FALSE verdict the crash state heals: the index is
    # restored and the function is then the usual no-op
    assert ivf_global_retrain(spark, path, _verdict(spark, False)) is False
    assert os.path.exists(os.path.join(path, "vectors"))
    assert not os.path.exists(path + "__retired")
    # the restore is byte-for-byte the pre-crash index, not a rebuild
    assert _assignment(spark, path) == before


def test_crash_with_nothing_to_recover_raises(spark, tmp_path):
    """No live index and no surviving swap directory is NOT recoverable —
    the retrain must say so instead of failing downstream on a missing
    parquet path after sweeping."""
    import pytest

    path = str(tmp_path / "idxgone")
    with pytest.raises(IOError, match="nothing to recover"):
        ivf_global_retrain(spark, path, _verdict(spark, True))


def test_ivf2_crash_between_renames_recovers(spark, tmp_path):
    """The nested twin shares the crash-state contract: between-renames
    state must heal, not sweep the survivors."""
    from vacancy_analyser_spark.plans.similarity import IVF2

    content = spark.createDataFrame(
        [(i, [1.0 if i < 12 else 0.0, 0.0 if i < 12 else 1.0, (i % 5) * 0.01])
         for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "idx2lcr")
    k = auto_centroids(content.count())
    IVF2.build(content, path, k)
    IVF2.build(content, path + "__rebuild", k)
    os.rename(path, path + "__retired")

    assert ivf_global_retrain(spark, path, _verdict(spark, True)) is True
    assert not os.path.exists(path + "__rebuild")
    assert not os.path.exists(path + "__retired")
    for d in ("vectors", "fine", "coarse"):
        assert os.path.exists(os.path.join(path, d)), d


def test_no_lookup_no_lookup_created(spark, tmp_path):
    """An index that never maintained a lookup must not grow one as a
    retrain side effect."""
    path = str(tmp_path / "idx4")
    _mk_drifted_index(spark, path)
    assert ivf_global_retrain(spark, path, _verdict(spark, True)) is True
    assert not os.path.exists(os.path.join(path, "lookup"))


def test_empty_decision_is_noop(spark, tmp_path):
    path = str(tmp_path / "idx5")
    _mk_drifted_index(spark, path)
    empty = spark.createDataFrame([], "index_retrain boolean")
    assert ivf_global_retrain(spark, path, empty) is False


def test_retrain_serve_probe_is_partition_pruned(spark, sf_dir):
    """The post-swap serve must read ONLY the probed bucket — the probe's
    centroid filter has to reach the scan as a planning-time partition
    filter, or serving cost scales with the index instead of the bucket."""
    import re

    from vacancy_analyser_spark.plans.similarity import ann_retrain_serve_topk

    df = ann_retrain_serve_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("centroid_id" in p for p in pfs)


def test_ivf2_global_retrain_rebuilds_both_levels_and_swaps(spark, tmp_path):
    """The nested twin: both quantizer levels must retrain on current
    content and the swap must publish a complete nested index (vectors +
    fine + coarse), with no staging state left behind."""
    from vacancy_analyser_spark.plans.similarity import IVF2

    base = spark.createDataFrame(
        [(i, [1.0, 0.0, (i % 5) * 0.01]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    drift = spark.createDataFrame(
        [(100 + i, [0.0, 1.0, (i % 5) * 0.01]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "idx2l")
    IVF2.build(base, path, 2)
    ivf_index_incremental_add(spark, path, drift)
    content = base.unionByName(drift)

    assert ivf_global_retrain(spark, path, _verdict(spark, True)) is True
    assert not os.path.exists(path + "__rebuild")
    assert not os.path.exists(path + "__retired")
    for d in ("vectors", "fine", "coarse"):
        assert os.path.exists(os.path.join(path, d)), d

    k = auto_centroids(content.count())
    ref = str(tmp_path / "ref2l")
    IVF2.build(content, ref, k)

    def _nested(p):
        return {
            (r["vec_id"], r["centroid_id"], r["coarse_id"])
            for r in spark.read.parquet(os.path.join(p, "vectors"))
            .select("vec_id", "centroid_id", "coarse_id")
            .collect()
        }

    assert _nested(path) == _nested(ref)

    # false verdict after the swap: provable no-op
    before = _tree_digest(path)
    assert ivf_global_retrain(spark, path, _verdict(spark, False)) is False
    assert _tree_digest(path) == before
