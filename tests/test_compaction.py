"""Small-file compaction (operators/compaction.py): the third index
lifecycle op. The add/delete byte-identity contracts guarantee files
accumulate monotonically under streaming ingest; compact_partitions must
(a) shrink the file census of fragmented partitions, (b) change NOTHING
logically (content equality — also driver-checked via the
ann_index_compact oracle), (c) leave healthy partitions byte-identical,
(d) be idempotent, and (e) respect the maxRecordsPerFile bound
(reference parity: feeder_hadoop.py:20 ROWS_PER_FILE = 50000)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vacancy_analyser_spark.operators.compaction import (
    compact_partitions,
    fragmented_keys,
    partition_file_census,
)
from vacancy_analyser_spark.plans.similarity import (
    ivf_build_index_frame,
    ivf_index_incremental_add,
)


def _mk_two_cluster_index(spark, path, n_adds=3):
    """Cluster A (ids 0..5) seeds the build; n_adds batches of cluster-A
    vectors fragment A's partition; cluster B (ids 10..12) stays
    untouched after the build."""
    rows = [(i, [1.0, 0.0, float(i % 3) * 0.01]) for i in range(6)] + [
        (10 + i, [0.0, 1.0, float(i % 3) * 0.01]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_build_index_frame(vecs, path, n_centroids=2)
    for j in range(n_adds):
        batch = spark.createDataFrame(
            [(100 + 10 * j + m, [1.0, 0.0, 0.02 + m * 0.001]) for m in range(2)],
            "vec_id long, embedding array<double>",
        )
        ivf_index_incremental_add(spark, path, batch)
    return vecs


def _content(spark, vectors):
    return {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(vectors).select("vec_id", "centroid_id").collect()
    }


def _census_meta(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith("_") or n.startswith("."):
                continue
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_compact_shrinks_census_preserves_content_and_untouched_bytes(
    spark, tmp_path
):
    path = str(tmp_path / "idx")
    _mk_two_cluster_index(spark, path, n_adds=3)
    vectors = os.path.join(path, "vectors")
    before_meta = _census_meta(vectors)
    before = partition_file_census(spark, vectors, ("centroid_id",))
    frag = fragmented_keys(before)
    assert frag, "adds must have fragmented at least one partition"
    healthy = sorted(set(before) - set(frag))
    assert healthy, "fixture needs an untouched healthy partition"
    want = _content(spark, vectors)

    report = compact_partitions(spark, vectors)
    assert sorted(r["key"] for r in report) == frag
    after = partition_file_census(spark, vectors, ("centroid_id",))
    for r in report:
        assert r["files_after"] < r["files_before"]
        assert after[r["key"]][0] == r["files_after"] == 1
    # logical content unchanged
    assert _content(spark, vectors) == want
    # healthy partitions byte-identical (same files, size, mtime)
    after_meta = _census_meta(vectors)
    healthy_prefixes = tuple(f"centroid_id={k[0]}" for k in healthy)
    for rel, meta in before_meta.items():
        if rel.startswith(healthy_prefixes):
            assert after_meta.get(rel) == meta, f"healthy file changed: {rel}"


def test_compact_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "idx2")
    _mk_two_cluster_index(spark, path, n_adds=2)
    vectors = os.path.join(path, "vectors")
    assert compact_partitions(spark, vectors)
    meta_1 = _census_meta(vectors)
    assert compact_partitions(spark, vectors) == []
    assert _census_meta(vectors) == meta_1


def test_compact_respects_max_records_per_file_and_salts_hot_keys(spark, tmp_path):
    """A hot partition (rows ≫ max_records_per_file) must (a) still honor
    the per-file record bound, (b) be rewritten by MORE THAN ONE task
    (the per-key salt — one giant partition must not serialize the
    rewrite), and (c) reach a fixed point: the files the salted rewrite
    produces must not be re-selected (the churn case the byte-only
    selection used to hit on every partition with >max_records rows but
    <target bytes)."""
    path = str(tmp_path / "idx3")
    rows = [(i, [1.0, 0.0, float(i % 3) * 0.01]) for i in range(6)] + [
        (10 + i, [0.0, 1.0, float(i % 3) * 0.01]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_build_index_frame(vecs, path, n_centroids=2)
    # 18 single-row adds: cluster A reaches 24 rows in 19 files; with
    # max_records_per_file=3 the right-sized layout is 8 files, so 19
    # clears the 2× selection threshold (16)
    for j in range(18):
        ivf_index_incremental_add(
            spark,
            path,
            spark.createDataFrame(
                [(100 + j, [1.0, 0.0, 0.02 + j * 0.001])],
                "vec_id long, embedding array<double>",
            ),
        )
    vectors = os.path.join(path, "vectors")
    want = _content(spark, vectors)

    # AQE would coalesce these toy-sized shuffle partitions into one task
    # regardless of the salt; at real scale coalescing respects the
    # advisory partition size, so disabling it here just makes the salt's
    # parallelism observable.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        report = compact_partitions(spark, vectors, max_records_per_file=3)
    finally:
        spark.conf.set(coalesce_key, prev)
    hot = [r for r in report if r["files_before"] >= 19]
    assert hot, "cluster A (build + 18 adds) must have been selected"
    # (a) every output file of the hot key holds <= 3 rows
    hot_key = hot[0]["key"]
    per_file = (
        spark.read.parquet(vectors)
        .filter(F.col("centroid_id") == hot_key[0])
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    )
    assert per_file and all(r["count"] <= 3 for r in per_file)
    # (b) >1 distinct writer task: parquet part numbers are task ids
    parts = {os.path.basename(r["f"]).split("-")[1] for r in per_file}
    assert len(parts) > 1, "hot-key rewrite ran in a single task"
    # (c) fixed point: nothing re-selected, content intact
    assert compact_partitions(spark, vectors, max_records_per_file=3) == []
    assert _content(spark, vectors) == want


def test_compact_through_scheme_qualified_path(spark, tmp_path):
    """Census + rewrite must run against a file:-scheme URI — the same
    substrate contract as the delete sweep."""
    local = tmp_path / "idx_uri"
    path = f"file:{local}"
    _mk_two_cluster_index(spark, path, n_adds=2)
    vectors = f"{path}/vectors"
    want = _content(spark, vectors)
    report = compact_partitions(spark, vectors)
    assert report
    assert _content(spark, vectors) == want
    after = partition_file_census(spark, vectors, ("centroid_id",))
    for r in report:
        assert after[r["key"]][0] == 1


def test_compact_state_store(spark, tmp_path):
    from vacancy_analyser_spark.operators.partitioned_state import (
        compact_state,
        merge_changeset_partitioned,
        write_state,
    )

    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, val string"
    )
    write_state(base, path, "id", n_buckets=4)

    def upsert(cur, chg):
        return (
            cur.join(chg.select("id"), "id", "left_anti")
            .unionByName(chg)
        )

    for j in range(3):
        chg = spark.createDataFrame(
            [(i, f"v{i}-{j}") for i in range(0, 40, 5)], "id long, val string"
        )
        merge_changeset_partitioned(spark, path, chg, upsert, "id", n_buckets=4)
    before = partition_file_census(spark, path, ("id_bucket",))
    assert any(n > 1 for n, _ in before.values())
    want = {
        (r["id"], r["val"])
        for r in spark.read.parquet(path).select("id", "val").collect()
    }
    report = compact_state(spark, path)
    assert report
    after = partition_file_census(spark, path, ("id_bucket",))
    for r in report:
        assert after[r["key"]][0] == 1
    assert {
        (r["id"], r["val"])
        for r in spark.read.parquet(path).select("id", "val").collect()
    } == want


def test_compact_lookup_table(spark, tmp_path):
    from vacancy_analyser_spark.operators.ann_lookup import (
        build_lookup,
        compact_lookup,
    )

    path = str(tmp_path / "idx_lk")
    # hand-built vectors layout: enough ids that most lookup buckets hold
    # rows from BOTH append halves below
    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 5).cast("int").alias("centroid_id"),
        F.array(F.lit(1.0)).alias("embedding"),
    )
    # the flat quantizer table a real build writes first
    spark.range(5).select(
        F.col("id").alias("centroid_id"), F.array(F.lit(1.0)).alias("c_emb")
    ).write.parquet(os.path.join(path, "centroids"))
    vecs.write.partitionBy("centroid_id").parquet(os.path.join(path, "vectors"))
    build_lookup(spark, path)
    lookup = os.path.join(path, "lookup")
    want = _content_lookup(spark, lookup)
    # fragment without changing content: rewrite as two appended halves
    # (the shape a streamed maintenance loop would accumulate)
    snap = spark.read.parquet(lookup).localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(lookup)
    for parity in (0, 1):
        snap.filter(F.pmod(F.col("vec_id"), F.lit(2)) == parity).write.mode(
            "append"
        ).partitionBy("bucket").parquet(lookup)
    assert _content_lookup(spark, lookup) == want

    report = compact_lookup(spark, path)
    assert report
    assert _content_lookup(spark, lookup) == want
    after = partition_file_census(spark, lookup, ("bucket",))
    for r in report:
        assert after[r["key"]][0] == 1


def _content_lookup(spark, lookup):
    return {
        (r["vec_id"], r["centroid_id"], r["bucket"])
        for r in spark.read.parquet(lookup).collect()
    }


def test_compact_split_layout_two_column_keys(spark, tmp_path):
    """The generic compaction over the split layout's two-column
    partition keys: fragment (0,0) with a split-aware add, compact, and
    the nested directory comes back to one right-sized file with
    everything else byte-identical."""
    path = str(tmp_path / "split_c")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, c_emb array<double>"
    )
    subs = spark.createDataFrame(
        [(0, 0, [0.9, 0.3]), (0, 1, [0.9, -0.3])],
        "centroid_id int, sub_id int, s_emb array<double>",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.2], 0, 0), (2, [1.0, -0.2], 0, 1), (3, [0.1, 1.0], 1, 0)],
        "vec_id long, embedding array<double>, centroid_id int, sub_id int",
    )
    cents.write.parquet(os.path.join(path, "centroids"))
    subs.write.parquet(os.path.join(path, "sub_centroids"))
    vecs.write.partitionBy("centroid_id", "sub_id").parquet(
        os.path.join(path, "vectors")
    )
    for i in range(2):
        ivf_index_incremental_add(
            spark,
            path,
            spark.createDataFrame(
                [(100 + i, [1.0, 0.25])], "vec_id long, embedding array<double>"
            ),
        )
    vectors = os.path.join(path, "vectors")
    cols = ("centroid_id", "sub_id")
    before_meta = _census_meta(vectors)
    frag = fragmented_keys(partition_file_census(spark, vectors, cols))
    assert frag == [(0, 0)]
    want = {
        tuple(r) for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "sub_id").collect()
    }
    report = compact_partitions(spark, vectors, cols)
    assert [r["key"] for r in report] == [(0, 0)]
    after = partition_file_census(spark, vectors, cols)
    assert after[(0, 0)][0] == 1
    assert {
        tuple(r) for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "sub_id").collect()
    } == want
    after_meta = _census_meta(vectors)
    keep = os.path.join("centroid_id=0", "sub_id=0")
    for rel, meta in before_meta.items():
        if not rel.startswith(keep):
            assert after_meta.get(rel) == meta, f"untouched file changed: {rel}"


def test_compact_rewrite_read_is_partition_pruned(spark, tmp_path):
    """The rewrite's scan must carry the victim keys as planning-time
    PartitionFilters — a compact that reads healthy partitions too would
    scale with the table instead of the fragmented fraction."""
    from vacancy_analyser_spark.operators.compaction import keys_filter

    path = str(tmp_path / "idx_plan")
    _mk_two_cluster_index(spark, path, n_adds=2)
    vectors = os.path.join(path, "vectors")
    frag = fragmented_keys(partition_file_census(spark, vectors, ("centroid_id",)))
    assert frag
    scan = spark.read.parquet(vectors).filter(keys_filter(("centroid_id",), frag))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "centroid_id" in pf
