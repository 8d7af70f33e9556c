"""Streaming embedding ingest (streaming/ann_ingest.py): micro-batches fold
into the materialized IVF index via the frozen-centroid incremental add —
and the fold is idempotent under replay (the foreachBatch retry contract),
so re-delivered batches never double-insert."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from vacancy_analyser_spark.plans.similarity import (
    _ranked_against,
    _vectors,
    auto_centroids,
    ivf_build_index_frame,
)
from vacancy_analyser_spark.streaming.ann_ingest import start_ann_ingest_stream

SCHEMA = "vec_id bigint, embedding array<double>"  # _vectors casts to double; batch files carry DOUBLE


def _setup(spark, sf_dir, tmp_path):
    """Base index from 3/4 of the corpus; the last quarter becomes two
    streamed batch files."""
    vecs = _vectors(spark, sf_dir)
    part = F.pmod(F.col("vec_id"), F.lit(4))
    base = vecs.filter(part < 2)
    b1 = vecs.filter(part == 2)
    b2 = vecs.filter(part == 3)
    path = str(tmp_path / "ann_index")
    ivf_build_index_frame(base, path, n_centroids=auto_centroids(base.count()))
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    b2.coalesce(1).write.parquet(os.path.join(src, "b2"))
    return vecs, path, src


def _index_assignment(spark, path):
    return {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "vectors"))
        .select("vec_id", "centroid_id")
        .collect()
    }


def test_stream_folds_batches_into_index(spark, sf_dir, tmp_path):
    vecs, path, src = _setup(spark, sf_dir, tmp_path)
    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", True
    ).parquet(src)
    q = start_ann_ingest_stream(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    cent_r = spark.read.parquet(os.path.join(path, "centroids"))
    want = {
        (r["vec_id"], r["centroid_id"])
        for r in _ranked_against(vecs, cent_r)
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert _index_assignment(spark, path) == want


def test_replayed_batches_do_not_double_insert(spark, sf_dir, tmp_path):
    """A fresh checkpoint re-delivers EVERY batch (worst-case replay): the
    skip_existing fold must leave the index exactly as it was."""
    vecs, path, src = _setup(spark, sf_dir, tmp_path)
    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", True
    ).parquet(src)
    q = start_ann_ingest_stream(stream, path, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    first = _index_assignment(spark, path)
    n_first = spark.read.parquet(os.path.join(path, "vectors")).count()

    q2 = start_ann_ingest_stream(
        spark.readStream.schema(SCHEMA).option("recursiveFileLookup", True).parquet(src),
        path,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    assert _index_assignment(spark, path) == first
    assert spark.read.parquet(os.path.join(path, "vectors")).count() == n_first


def test_trigger_knobs_validated(spark, tmp_path):
    src = str(tmp_path / "vsrc")
    os.makedirs(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    with pytest.raises(ValueError, match="silently ignored"):
        start_ann_ingest_stream(
            stream, str(tmp_path / "i"), str(tmp_path / "c"),
            available_now=True, processing_time="1 second",
        )
    with pytest.raises(ValueError, match="unthrottled"):
        start_ann_ingest_stream(
            stream, str(tmp_path / "i"), str(tmp_path / "c"), available_now=False
        )


def test_stream_leaves_untouched_partitions_byte_identical(spark, sf_dir, tmp_path):
    """Across triggers the fold must be partition-scoped: after b1 is
    folded, folding b2 may only ADD files under partitions b2 maps to —
    every data file present after b1 stays byte-identical (same path,
    same bytes) after b2. A rewrite of an existing partition file would
    mean the add shuffled or rewrote index data it never touched."""
    import hashlib

    vecs, path, src = _setup(spark, sf_dir, tmp_path)

    def _datafile_digests():
        out = {}
        vdir = os.path.join(path, "vectors")
        for root, _dirs, files in os.walk(vdir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, vdir)] = hashlib.md5(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    # fold b1 alone (its own source dir), snapshot, then fold b2
    q1 = start_ann_ingest_stream(
        spark.readStream.schema(SCHEMA).parquet(os.path.join(src, "b1")),
        path,
        str(tmp_path / "ckpt_b1"),
    )
    q1.awaitTermination(120)
    after_b1 = _datafile_digests()

    q2 = start_ann_ingest_stream(
        spark.readStream.schema(SCHEMA).parquet(os.path.join(src, "b2")),
        path,
        str(tmp_path / "ckpt_b2"),
    )
    q2.awaitTermination(120)
    after_b2 = _datafile_digests()

    missing = set(after_b1) - set(after_b2)
    changed = {f for f in set(after_b1) & set(after_b2) if after_b1[f] != after_b2[f]}
    assert not missing and not changed, (missing, changed)
    assert set(after_b2) - set(after_b1)  # b2 did land somewhere


def test_delete_stream_folds_batches_and_is_replay_safe(spark, sf_dir, tmp_path):
    """The takedown stream: two micro-batches of vec_ids delete from the
    index; the surviving assignment equals the full assignment minus the
    union of the streamed ids, and replaying the whole stream against a
    fresh checkpoint (worst-case redelivery) changes nothing — deletion
    is idempotent by construction."""
    from vacancy_analyser_spark.streaming.ann_ingest import start_ann_delete_stream

    vecs = _vectors(spark, sf_dir)
    path = str(tmp_path / "ann_del_index")
    ivf_build_index_frame(vecs, path, n_centroids=auto_centroids(vecs.count()))
    want_all = _index_assignment(spark, path)

    dels = vecs.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 5).select("vec_id")
    d1 = dels.filter(F.col("vec_id") % 2 == 0)
    d2 = dels.filter(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "takedowns")
    os.makedirs(src)
    d1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    d2.coalesce(1).write.parquet(os.path.join(src, "b2"))
    del_ids = {r["vec_id"] for r in dels.collect()}
    assert del_ids

    stream = spark.readStream.schema("vec_id bigint").option(
        "recursiveFileLookup", True
    ).parquet(src)
    q = start_ann_delete_stream(stream, path, str(tmp_path / "ckpt_d1"))
    q.awaitTermination(120)
    got = _index_assignment(spark, path)
    assert got == {(v, c) for v, c in want_all if v not in del_ids}

    # full redelivery on a fresh checkpoint: no-op
    q2 = start_ann_delete_stream(
        spark.readStream.schema("vec_id bigint").option("recursiveFileLookup", True).parquet(src),
        path,
        str(tmp_path / "ckpt_d2"),
    )
    q2.awaitTermination(120)
    assert _index_assignment(spark, path) == got


def test_stream_compacts_every_n_triggers(spark, sf_dir, tmp_path):
    """compact_every=1 keeps the streamed index defragmented: after the
    drain no partition holds more files than its bytes justify, and the
    content equals the frozen-centroid assignment exactly (compaction is
    a pure physical reorganization inside the loop)."""
    from vacancy_analyser_spark.operators.compaction import (
        fragmented_keys,
        partition_file_census,
    )

    vecs, path, src = _setup(spark, sf_dir, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest_stream(
        stream, path, str(tmp_path / "ckpt_c"), compact_every=1
    )
    q.awaitTermination(120)

    vectors = os.path.join(path, "vectors")
    census = partition_file_census(spark, vectors, ("centroid_id",))
    assert census
    assert fragmented_keys(census) == []

    cent_r = spark.read.parquet(os.path.join(path, "centroids"))
    want = {
        (r["vec_id"], r["centroid_id"])
        for r in _ranked_against(vecs, cent_r)
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert _index_assignment(spark, path) == want


def test_compact_every_rejects_nonpositive(spark, sf_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="compact_every"):
        start_ann_ingest_stream(stream, "p", "c", compact_every=0)


def test_split_stream_folds_through_both_quantizer_levels(spark, tmp_path):
    """Streamed batches land in the right (centroid_id, sub_id)
    partitions of a split layout, replay is a no-op, and in-loop
    compaction keeps the census defragmented."""
    from vacancy_analyser_spark.operators.compaction import (
        fragmented_keys,
        partition_file_census,
    )

    path = str(tmp_path / "split_stream")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, c_emb array<double>"
    )
    subs = spark.createDataFrame(
        [(0, 0, [0.9, 0.3]), (0, 1, [0.9, -0.3])],
        "centroid_id int, sub_id int, s_emb array<double>",
    )
    seed = spark.createDataFrame(
        [(1, [1.0, 0.2], 0, 0), (2, [1.0, -0.2], 0, 1), (3, [0.1, 1.0], 1, 0)],
        "vec_id long, embedding array<double>, centroid_id int, sub_id int",
    )
    cents.write.parquet(os.path.join(path, "centroids"))
    subs.write.parquet(os.path.join(path, "sub_centroids"))
    seed.write.partitionBy("centroid_id", "sub_id").parquet(
        os.path.join(path, "vectors")
    )
    src = str(tmp_path / "split_arrivals")
    os.makedirs(src)
    spark.createDataFrame(
        [(100, [1.0, 0.25])], "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.parquet(os.path.join(src, "b1"))
    spark.createDataFrame(
        [(101, [0.0, 0.9]), (102, [1.0, -0.25])],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest_stream(
        stream, path, str(tmp_path / "ckpt_s"), compact_every=1
    )
    q.awaitTermination(120)

    vectors = os.path.join(path, "vectors")
    got = {
        (r["vec_id"], r["centroid_id"], r["sub_id"])
        for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "sub_id")
        .collect()
    }
    assert {(100, 0, 0), (101, 1, 0), (102, 0, 1)} <= got and len(got) == 6
    census = partition_file_census(spark, vectors, ("centroid_id", "sub_id"))
    assert fragmented_keys(census) == []

    # full redelivery through a FRESH checkpoint must be a no-op
    stream2 = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q2 = start_ann_ingest_stream(stream2, path, str(tmp_path / "ckpt_s2"))
    q2.awaitTermination(120)
    assert spark.read.parquet(vectors).count() == 6


def _stream_src(spark, tmp_path, name, batches):
    src = str(tmp_path / name)
    os.makedirs(src)
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
    return spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", True
    ).option("maxFilesPerTrigger", 1).parquet(src), src


def test_ivf2_stream_folds_into_nested_layout_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    from vacancy_analyser_spark.plans.similarity import IVF2

    vecs = _vectors(spark, sf_dir)
    part = F.pmod(F.col("vec_id"), F.lit(4))
    base = vecs.filter(part < 2)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivf2_stream")
    IVF2.build(base, path, k)
    stream, src = _stream_src(
        spark, tmp_path, "ivf2_arrivals",
        [vecs.filter(part == 2), vecs.filter(part == 3)],
    )
    q = start_ann_ingest_stream(stream, path, str(tmp_path / "ck2"))
    q.awaitTermination(120)

    vectors = os.path.join(path, "vectors")
    fine_r = spark.read.parquet(os.path.join(path, "fine"))
    got = {
        (r["vec_id"], r["centroid_id"], r["coarse_id"])
        for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "coarse_id")
        .collect()
    }
    want = {
        (r["vec_id"], r["centroid_id"], r["coarse_id"])
        for r in _ranked_against(vecs, fine_r.select("centroid_id", "c_emb"))
        .filter(F.col("rn") == 1)
        .join(fine_r.select("centroid_id", "coarse_id"), "centroid_id")
        .select("vec_id", "centroid_id", "coarse_id")
        .collect()
    }
    assert got == want
    # full redelivery through a fresh checkpoint is a no-op
    stream2 = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", True
    ).parquet(src)
    q2 = start_ann_ingest_stream(stream2, path, str(tmp_path / "ck2b"))
    q2.awaitTermination(120)
    assert spark.read.parquet(vectors).count() == len(want)


def test_ivfpq_stream_codes_from_frozen_codebook(spark, sf_dir, tmp_path):
    from vacancy_analyser_spark.plans.similarity import (
        IVFPQ,
        _pq_assign,
        _pq_subvectors,
    )

    vecs = _vectors(spark, sf_dir)
    part = F.pmod(F.col("vec_id"), F.lit(4))
    base = vecs.filter(part < 2)
    path = str(tmp_path / "ivfpq_stream")
    IVFPQ.build(base, path, n_centroids=auto_centroids(base.count()))
    stream, src = _stream_src(
        spark, tmp_path, "ivfpq_arrivals",
        [vecs.filter(part == 2), vecs.filter(part == 3)],
    )
    q = start_ann_ingest_stream(stream, path, str(tmp_path / "ckq"))
    q.awaitTermination(120)

    vectors = os.path.join(path, "vectors")
    got = {
        (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
        for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "codes")
        .collect()
    }
    cb_r = spark.read.parquet(os.path.join(path, "codebook"))
    cent_r = spark.read.parquet(os.path.join(path, "centroids"))
    codes_arr = (
        _pq_assign(_pq_subvectors(vecs), cb_r)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("block", "code"))).alias("bc"))
        .select("vec_id", F.transform("bc", lambda s: s["code"]).alias("codes"))
    )
    want = {
        (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
        for r in _ranked_against(vecs, cent_r)
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
        .join(codes_arr, "vec_id")
        .collect()
    }
    assert got == want


def test_delete_stream_serves_the_split_layout(spark, tmp_path):
    """One takedown queue over any layout: stream two deletion batches
    into a split (centroid_id, sub_id) index — victims leave the right
    nested partitions, a fully-emptied sub-leaf is swept, and redelivery
    through a fresh checkpoint is a no-op."""
    from vacancy_analyser_spark.streaming.ann_ingest import start_ann_delete_stream

    path = str(tmp_path / "split_del_stream")
    # the split quantizer tables a real build writes first
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id bigint, c_emb array<double>"
    ).write.parquet(os.path.join(path, "centroids"))
    spark.createDataFrame(
        [(0, 0, [0.9, 0.3]), (0, 1, [0.9, -0.3])],
        "centroid_id bigint, sub_id int, s_emb array<double>",
    ).write.parquet(os.path.join(path, "sub_centroids"))
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.2], 0, 0), (2, [1.0, -0.2], 0, 1), (3, [0.1, 1.0], 1, 0),
         (4, [1.0, 0.3], 0, 0)],
        "vec_id long, embedding array<double>, centroid_id int, sub_id int",
    )
    vecs.write.partitionBy("centroid_id", "sub_id").parquet(
        os.path.join(path, "vectors")
    )
    src = str(tmp_path / "takedowns")
    os.makedirs(src)
    spark.createDataFrame([(2,)], "vec_id bigint").coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    spark.createDataFrame([(4,)], "vec_id bigint").coalesce(1).write.parquet(
        os.path.join(src, "b2")
    )
    stream = (
        spark.readStream.schema("vec_id bigint")
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_delete_stream(stream, path, str(tmp_path / "ckd"))
    q.awaitTermination(120)

    vectors = os.path.join(path, "vectors")
    left = {r["vec_id"] for r in spark.read.parquet(vectors).select("vec_id").collect()}
    assert left == {1, 3}
    # vec 2 was sub-leaf (0,1)'s only member — the directory is swept
    assert not os.path.exists(os.path.join(vectors, "centroid_id=0", "sub_id=1"))

    stream2 = spark.readStream.schema("vec_id bigint").option(
        "recursiveFileLookup", True
    ).parquet(src)
    q2 = start_ann_delete_stream(stream2, path, str(tmp_path / "ckd2"))
    q2.awaitTermination(120)
    assert {
        r["vec_id"] for r in spark.read.parquet(vectors).select("vec_id").collect()
    } == {1, 3}


def test_concurrent_ingest_and_takedown_streams_serialize_via_lease(
    spark, sf_dir, tmp_path
):
    """The lease's production claim, exercised for real: an ingest stream
    and a takedown stream run CONCURRENTLY against one index. Every
    maintenance fold is read-then-dynamic-overwrite, so without the
    per-fold maintenance lease an append landing in a victim partition
    between the delete's read and its commit is silently clobbered.
    Deletes target build-resident ids and arrivals carry fresh ids, so
    the expected final id set is deterministic under ANY serialized
    interleaving — rows missing from it mean a lost update."""
    from vacancy_analyser_spark.streaming.ann_ingest import start_ann_delete_stream

    vecs = _vectors(spark, sf_dir)
    part = F.pmod(F.col("vec_id"), F.lit(4))
    base = vecs.filter(part < 2)
    arrivals = vecs.filter(part >= 2)
    path = str(tmp_path / "ann_lease_idx")
    ivf_build_index_frame(base, path, n_centroids=auto_centroids(base.count()))

    # arrivals as several files -> several ingest triggers; deletions as
    # several files -> several takedown triggers, all build-resident ids
    src_add = str(tmp_path / "arrivals")
    src_del = str(tmp_path / "takedowns")
    for m in (2, 3):
        arrivals.filter(part == m).coalesce(1).write.mode("append").parquet(src_add)
    dels = base.filter(F.pmod(F.col("vec_id"), F.lit(8)) == 1).select("vec_id")
    # vec_id % 8 == 1 → % 16 ∈ {1, 9}: two non-empty takedown triggers
    for m in (1, 9):
        dels.filter(F.pmod(F.col("vec_id"), F.lit(16)) == m).coalesce(1).write.mode(
            "append"
        ).parquet(src_del)

    q_add = start_ann_ingest_stream(
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src_add),
        path,
        str(tmp_path / "ck_add"),
    )
    q_del = start_ann_delete_stream(
        spark.readStream.schema("vec_id bigint").option("maxFilesPerTrigger", 1).parquet(src_del),
        path,
        str(tmp_path / "ck_del"),
    )
    q_add.awaitTermination(180)
    q_del.awaitTermination(180)

    got_ids = {v for v, _c in _index_assignment(spark, path)}
    del_ids = {r["vec_id"] for r in dels.collect()}
    want_ids = (
        {r["vec_id"] for r in base.select("vec_id").collect()} - del_ids
    ) | {r["vec_id"] for r in arrivals.select("vec_id").collect()}
    assert got_ids == want_ids  # no lost adds, no resurrected deletes
    # the lease was actually released at the end
    from vacancy_analyser_spark.operators import ixlock

    assert ixlock.try_acquire(spark, path, "post")
    ixlock.release(spark, path)


def test_apply_stream_one_owner_add_delete_compact(spark, sf_dir, tmp_path):
    """The unified command log (start_ann_apply_stream): one foreachBatch
    owner applies adds THEN deletes per trigger and runs the in-loop
    compaction sweep — the mechanics the driver oracle can't see: the
    within-batch ordering contract (an id added and deleted in one
    trigger lands deleted), the post-drain defragmented census, and the
    lease released."""
    from vacancy_analyser_spark.operators import ixlock
    from vacancy_analyser_spark.operators.compaction import (
        fragmented_keys,
        partition_file_census,
        partition_row_counts,
    )
    from vacancy_analyser_spark.streaming.ann_ingest import start_ann_apply_stream

    vecs = _vectors(spark, sf_dir)
    part = F.pmod(F.col("vec_id"), F.lit(4))
    base = vecs.filter(part < 2)
    arrivals = vecs.filter(part >= 2)
    path = str(tmp_path / "apply_idx")
    ivf_build_index_frame(base, path, n_centroids=auto_centroids(base.count()))

    max_id = vecs.agg(F.max("vec_id")).first()[0]
    ghost_id = max_id + 1000
    some_emb = vecs.select("embedding").head()[0]
    add = arrivals.select(F.lit("add").alias("op"), "vec_id", "embedding")
    ghost_add = spark.createDataFrame(
        [("add", ghost_id, some_emb)], "op string, vec_id bigint, embedding array<double>"
    )
    del_ids = base.filter(F.pmod(F.col("vec_id"), F.lit(8)) == 1).select("vec_id")
    dels = del_ids.select(
        F.lit("del").alias("op"),
        "vec_id",
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    ghost_del = spark.createDataFrame(
        [("del", ghost_id, None)], "op string, vec_id bigint, embedding array<double>"
    )
    # ONE trigger carrying adds, the ghost add+del pair, and takedowns
    src = str(tmp_path / "log")
    add.unionByName(ghost_add).unionByName(dels).unionByName(ghost_del).coalesce(
        1
    ).write.parquet(src)

    q = start_ann_apply_stream(
        spark.readStream.schema("op string, vec_id bigint, embedding array<double>")
        .parquet(src),
        path,
        str(tmp_path / "ck_apply"),
        compact_every=1,
    )
    q.awaitTermination(180)

    got_ids = {v for v, _c in _index_assignment(spark, path)}
    removed = {r["vec_id"] for r in del_ids.collect()}
    want = (
        {r["vec_id"] for r in base.select("vec_id").collect()} - removed
    ) | {r["vec_id"] for r in arrivals.select("vec_id").collect()}
    assert ghost_id not in got_ids  # add-then-delete in one trigger = deleted
    assert got_ids == want
    # in-loop compaction ran: nothing left fragmented
    vectors = os.path.join(path, "vectors")
    census = partition_file_census(spark, vectors, ("centroid_id",))
    counts = partition_row_counts(spark, vectors, ("centroid_id",))
    assert fragmented_keys(census, row_counts=counts) == []
    # the owner released the lease
    assert ixlock.try_acquire(spark, path, "post")
    ixlock.release(spark, path)


def test_apply_stream_del_then_readd_in_one_batch(spark, sf_dir, tmp_path):
    """Micro-batch boundaries are arbitrary, so a del and its re-add MAY
    land in one trigger. The fold must resolve the batch to its per-id
    net effect in LOG order: del→add(e2) ends present with e2 (not
    absent — the lost re-add of the r11 advisory — and not the old
    embedding via a skip_existing skip), and add(e1)→del→add(e3) ends
    with e3 (first add after the last del, serial skip semantics)."""
    from vacancy_analyser_spark.streaming.ann_ingest import start_ann_apply_stream

    vecs = _vectors(spark, sf_dir)
    base = vecs.filter(F.pmod(F.col("vec_id"), F.lit(4)) < 3)
    path = str(tmp_path / "netfx_idx")
    ivf_build_index_frame(base, path, n_centroids=auto_centroids(base.count()))

    x = base.select("vec_id").head()[0]  # exists in the index
    max_id = vecs.agg(F.max("vec_id")).first()[0]
    y = max_id + 1000  # never indexed
    dim = len(vecs.select("embedding").head()[0])
    e2 = [7.0] + [0.0] * (dim - 1)
    e1 = [0.0] * (dim - 1) + [5.0]
    e3 = [3.0] + [0.0] * (dim - 2) + [3.0]
    none = None
    log = spark.createDataFrame(
        [  # explicit seq column: exact log order however files split
            ("del", x, none, 0),
            ("add", x, e2, 1),
            ("add", y, e1, 2),
            ("del", y, none, 3),
            ("add", y, e3, 4),
            ("add", y, e1, 5),  # present → serially skipped; e3 must win
        ],
        "op string, vec_id bigint, embedding array<double>, seq bigint",
    )
    src = str(tmp_path / "netfx_log")
    log.coalesce(1).write.parquet(src)

    q = start_ann_apply_stream(
        spark.readStream.schema(
            "op string, vec_id bigint, embedding array<double>, seq bigint"
        ).parquet(src),
        path,
        str(tmp_path / "netfx_ck"),
    )
    q.awaitTermination(180)

    got = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(os.path.join(path, "vectors"))
        .filter(F.col("vec_id").isin([x, y]))
        .select("vec_id", "embedding")
        .collect()
    }
    assert got[x] == e2  # re-add survived AND replaced the old embedding
    assert got[y] == e3  # first add after the last del, not e1
