"""Incremental IVF index maintenance (plans/similarity.py): an arriving
batch folds into the materialized index against FROZEN centroids, touching
only the partitions that receive rows — the vector-surface twin of the
partitioned-state merge. The cross-engine equivalence (incremental == full
rebuild on the union with frozen centroids) is driver-checked via the
ann_index_incremental_add oracle; these tests pin the PHYSICAL contracts
the oracle can't see: byte-identical untouched partitions, a batch-only
add job, and partition-pruned probes over the post-add index."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vacancy_analyser_spark.plans.similarity import (
    _ranked_against,
    _vectors,
    auto_centroids,
    ivf_build_index_frame,
    ivf_index_incremental_add,
)


def _split(spark, sf_dir):
    vecs = _vectors(spark, sf_dir)
    is_batch = F.pmod(F.col("vec_id"), F.lit(8)) == 7
    return vecs.filter(~is_batch), vecs.filter(is_batch)


def _file_census(root: str) -> dict[str, tuple[int, float]]:
    """relpath -> (size, mtime) for every data file under the vectors dir."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith("_") or n.startswith("."):
                continue
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_incremental_add_leaves_untouched_partitions_byte_identical(
    spark, sf_dir, tmp_path
):
    base, batch = _split(spark, sf_dir)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivf_incr")
    ivf_build_index_frame(base, path, n_centroids=k)
    vectors = os.path.join(path, "vectors")
    before = _file_census(vectors)

    touched = ivf_index_incremental_add(spark, path, batch)
    after = _file_census(vectors)

    assert touched, "a 1/8 slice of a clustered corpus must touch some bucket"
    # every pre-existing file survives the add bit-for-bit (append never
    # rewrites): same path, same size, same mtime
    for rel, meta in before.items():
        assert after.get(rel) == meta, f"pre-existing file changed: {rel}"
    # new files land ONLY inside touched partitions
    new_files = set(after) - set(before)
    assert new_files
    for rel in new_files:
        part = rel.split(os.sep, 1)[0]
        assert part in {f"centroid_id={b}" for b in touched}, rel


def test_incremental_add_equals_full_assignment_with_frozen_centroids(
    spark, sf_dir, tmp_path
):
    """The oracle's equivalence, asserted engine-locally as well: the
    post-add index content equals assigning the WHOLE corpus against the
    stored (base-trained) centroids."""
    base, batch = _split(spark, sf_dir)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivf_incr")
    ivf_build_index_frame(base, path, n_centroids=k)
    ivf_index_incremental_add(spark, path, batch)

    got = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "vectors"))
        .select("vec_id", "centroid_id")
        .collect()
    }
    cent_r = spark.read.parquet(os.path.join(path, "centroids"))
    want = {
        (r["vec_id"], r["centroid_id"])
        for r in _ranked_against(_vectors(spark, sf_dir), cent_r)
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert got == want


def test_incremental_add_job_never_scans_the_index(spark, sf_dir, tmp_path):
    """The add's assignment plan reads the batch and the centroid-count
    centroids table — never vectors/ (an add that re-shuffles the standing
    index is a rebuild in disguise)."""
    base, batch = _split(spark, sf_dir)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivf_incr")
    ivf_build_index_frame(base, path, n_centroids=k)

    cent_r = spark.read.parquet(os.path.join(path, "centroids"))
    assigned = _ranked_against(batch, cent_r).filter(F.col("rn") == 1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "vectors" not in plan
    # the frozen-centroid assignment broadcasts the small side
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_probe_after_add_still_prunes_partitions(spark, sf_dir, tmp_path):
    base, batch = _split(spark, sf_dir)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivf_incr")
    ivf_build_index_frame(base, path, n_centroids=k)
    touched = ivf_index_incremental_add(spark, path, batch)

    from vacancy_analyser_spark.plans.similarity import IVF_K, ivf_probe_index

    q = _vectors(spark, sf_dir).filter(F.col("vec_id") == 0).head()["embedding"]
    probe = ivf_probe_index(
        spark, os.path.join(path, "vectors"), q, [touched[0]], k=IVF_K
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "centroid_id" in pf
    assert probe.count() <= IVF_K


def test_registered_key_is_idempotent(spark, sf_dir):
    """Two invocations in one session must not double-append: the second
    run reads the fresh index instead of re-running build+add."""
    from vacancy_analyser_spark.plans.similarity import ann_index_incremental_add

    n1 = ann_index_incremental_add(spark, sf_dir).count()
    n2 = ann_index_incremental_add(spark, sf_dir).count()
    n_vecs = _vectors(spark, sf_dir).count()
    assert n1 == n2 == n_vecs


def test_ivfpq_incremental_add_matches_frozen_rebuild(spark, sf_dir, tmp_path):
    """The compressed-index twin: codes from the STORED codebook, cells
    from the STORED centroids, untouched partitions byte-identical, and
    the result equal to encoding+assigning the union against the same
    frozen artifacts."""
    from vacancy_analyser_spark.plans.similarity import (
        IVFPQ,
        _pq_assign,
        _pq_subvectors,
    )

    base, batch = _split(spark, sf_dir)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivfpq_incr")
    IVFPQ.build(base, path, n_centroids=k)
    vectors = os.path.join(path, "vectors")
    before = _file_census(vectors)

    touched = ivf_index_incremental_add(spark, path, batch)
    after = _file_census(vectors)
    for rel, meta in before.items():
        assert after.get(rel) == meta, f"pre-existing file changed: {rel}"
    for rel in set(after) - set(before):
        assert rel.split(os.sep, 1)[0] in {f"centroid_id={b}" for b in touched}, rel

    got = {
        (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
        for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "codes")
        .collect()
    }
    cb_r = spark.read.parquet(os.path.join(path, "codebook"))
    cent_r = spark.read.parquet(os.path.join(path, "centroids"))
    vecs = _vectors(spark, sf_dir)
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


def test_ivf2_incremental_add_appends_into_nested_layout(spark, sf_dir, tmp_path):
    """The two-level twin: one broadcast assignment against the stored
    fine table (its coarse_id rides along — zero coarse-level work),
    nested-partition append, untouched directories byte-identical, and
    the post-add content equal to assigning the union against the frozen
    fine centroids."""
    from vacancy_analyser_spark.plans.similarity import IVF2

    base, batch = _split(spark, sf_dir)
    k = auto_centroids(base.count())
    path = str(tmp_path / "ivf2_incr")
    IVF2.build(base, path, k)
    vectors = os.path.join(path, "vectors")
    before = _file_census(vectors)

    touched = ivf_index_incremental_add(spark, path, batch)
    after = _file_census(vectors)
    for rel, meta in before.items():
        assert after.get(rel) == meta, f"pre-existing file changed: {rel}"
    new_files = set(after) - set(before)
    assert new_files
    for rel in new_files:
        # nested layout: coarse dir / fine dir / file — the fine dir must
        # be one of the touched cells
        parts = rel.split(os.sep)
        assert parts[0].startswith("coarse_id="), rel
        assert parts[1] in {f"centroid_id={b}" for b in touched}, rel

    fine_r = spark.read.parquet(os.path.join(path, "fine"))
    got = {
        (r["vec_id"], r["centroid_id"], r["coarse_id"])
        for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "coarse_id")
        .collect()
    }
    want = {
        (r["vec_id"], r["centroid_id"], r["coarse_id"])
        for r in _ranked_against(
            _vectors(spark, sf_dir), fine_r.select("centroid_id", "c_emb")
        )
        .filter(F.col("rn") == 1)
        .join(fine_r.select("centroid_id", "coarse_id"), "centroid_id")
        .select("vec_id", "centroid_id", "coarse_id")
        .collect()
    }
    assert got == want


def test_index_delete_partition_scoped_and_exact(spark, sf_dir, tmp_path):
    """ivf_index_delete's three contracts:
    - untouched centroid partitions stay byte-identical (same files, same
      size/mtime);
    - the surviving index equals the frozen-centroid assignment minus
      exactly the deleted ids;
    - re-deleting the same ids is a no-op (no touched partitions, no file
      churn)."""
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    vecs = _vectors(spark, sf_dir)
    k = auto_centroids(vecs.count())
    path = str(tmp_path / "ivf_del")
    ivf_build_index_frame(vecs, path, n_centroids=k)
    vectors = os.path.join(path, "vectors")
    before = _file_census(vectors)
    want_all = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(vectors).select("vec_id", "centroid_id").collect()
    }

    dels = vecs.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 5).select("vec_id")
    del_ids = {r["vec_id"] for r in dels.collect()}
    assert del_ids
    touched = ivf_index_delete(spark, path, dels)
    assert touched

    after = _file_census(vectors)
    touched_prefixes = tuple(f"centroid_id={c}" for c in touched)
    for rel, meta in before.items():
        if not rel.startswith(touched_prefixes):
            assert after.get(rel) == meta, f"untouched file changed: {rel}"

    got = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(vectors).select("vec_id", "centroid_id").collect()
    }
    assert got == {(v, c) for v, c in want_all if v not in del_ids}

    census_1 = _file_census(vectors)
    assert ivf_index_delete(spark, path, dels) == []
    assert _file_census(vectors) == census_1


def test_index_delete_sweeps_fully_emptied_partition(spark, tmp_path):
    """A centroid bucket whose EVERY member is deleted must disappear from
    disk — dynamic overwrite alone writes nothing for it and would leave
    the dead rows serving."""
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    # two well-separated clusters; centroids = one seed in each
    rows = [(i, [1.0, 0.0, float(i % 3) * 0.01]) for i in range(6)] + [
        (10 + i, [0.0, 1.0, float(i % 3) * 0.01]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_sweep")
    ivf_build_index_frame(vecs, path, n_centroids=2)
    vectors = os.path.join(path, "vectors")
    by_cent: dict = {}
    for r in spark.read.parquet(vectors).select("vec_id", "centroid_id").collect():
        by_cent.setdefault(r["centroid_id"], set()).add(r["vec_id"])
    assert len(by_cent) == 2
    # delete every member of one bucket
    victim_cent, victim_ids = next(iter(sorted(by_cent.items())))
    dels = spark.createDataFrame([(v,) for v in victim_ids], "vec_id long")
    touched = ivf_index_delete(spark, path, dels)
    assert victim_cent in touched
    assert not os.path.exists(os.path.join(vectors, f"centroid_id={victim_cent}"))
    left = {r["vec_id"] for r in spark.read.parquet(vectors).select("vec_id").collect()}
    assert left == set().union(*(s for c, s in by_cent.items() if c != victim_cent))


def test_index_delete_sweeps_through_scheme_qualified_path(spark, tmp_path):
    """The empty-partition sweep must run through the Hadoop FileSystem
    API, not os.path/shutil: the index lives wherever its path string
    points (HDFS/S3A/file:). A ``file:``-scheme URI is the portable proxy
    the test environment can exercise — a POSIX sweep would try to stat a
    literal './file:/...' path and either raise or silently leave the
    dead partition serving."""
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    rows = [(i, [1.0, 0.0, float(i % 3) * 0.01]) for i in range(6)] + [
        (10 + i, [0.0, 1.0, float(i % 3) * 0.01]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    local = tmp_path / "ivf_sweep_uri"
    path = f"file:{local}"
    ivf_build_index_frame(vecs, path, n_centroids=2)
    by_cent: dict = {}
    vectors_uri = f"{path}/vectors"
    for r in spark.read.parquet(vectors_uri).select("vec_id", "centroid_id").collect():
        by_cent.setdefault(r["centroid_id"], set()).add(r["vec_id"])
    victim_cent, victim_ids = next(iter(sorted(by_cent.items())))
    dels = spark.createDataFrame([(v,) for v in victim_ids], "vec_id long")
    touched = ivf_index_delete(spark, path, dels)
    assert victim_cent in touched
    # verified on the real local directory behind the URI
    assert not (local / "vectors" / f"centroid_id={victim_cent}").exists()
    left = {r["vec_id"] for r in spark.read.parquet(vectors_uri).select("vec_id").collect()}
    assert left == set().union(*(s for c, s in by_cent.items() if c != victim_cent))


def test_nested_delete_prunes_empty_parents_via_uri(spark, tmp_path):
    """Two-level layout through a file:-scheme URI: sweeping the last leaf
    under a coarse_id parent must also remove the hollow parent directory,
    all through the Hadoop FS API."""
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    rows = [
        (1, 0, 10, [1.0, 0.0]),
        (2, 0, 10, [1.0, 0.1]),
        (3, 1, 20, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, coarse_id int, centroid_id int, embedding array<double>"
    )
    local = tmp_path / "ivf2_sweep_uri"
    path = f"file:{local}"
    # the two-level quantizer tables a real build writes first
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "coarse_id bigint, g_emb array<double>"
    ).write.parquet(f"{path}/coarse")
    spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (20, [0.0, 1.0], 1)],
        "centroid_id bigint, c_emb array<double>, coarse_id bigint",
    ).write.parquet(f"{path}/fine")
    df.write.partitionBy("coarse_id", "centroid_id").parquet(f"{path}/vectors")
    dels = spark.createDataFrame([(1,), (2,)], "vec_id long")
    touched = ivf_index_delete(spark, path, dels)
    assert touched == [(0, 10)]
    assert not (local / "vectors" / "coarse_id=0").exists()
    left = {
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/vectors").select("vec_id").collect()
    }
    assert left == {3}


def test_lookup_refresh_sweeps_through_scheme_qualified_path(spark, tmp_path):
    """refresh_lookup_buckets' emptied-bucket sweep must work against a
    scheme-qualified index path too (same substrate contract as the
    vectors sweep)."""
    from vacancy_analyser_spark.operators.ann_lookup import (
        N_LOOKUP_BUCKETS,
        build_lookup,
        refresh_lookup_buckets,
    )
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    rows = [(i, [1.0, 0.0, float(i % 3) * 0.01]) for i in range(6)] + [
        (10 + i, [0.0, 1.0, float(i % 3) * 0.01]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    local = tmp_path / "ivf_lookup_uri"
    path = f"file:{local}"
    ivf_build_index_frame(vecs, path, n_centroids=2)
    build_lookup(spark, path)
    # delete one full cluster; any lookup bucket ONLY its ids hash into
    # must be swept from disk, shared buckets must survive
    bucket_expr = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(N_LOOKUP_BUCKETS))
    dels = vecs.filter(F.col("vec_id") < 10).select("vec_id")
    del_buckets = {r[0] for r in dels.select(bucket_expr).distinct().collect()}
    keep_buckets = {
        r[0]
        for r in vecs.filter(F.col("vec_id") >= 10)
        .select(bucket_expr)
        .distinct()
        .collect()
    }
    assert del_buckets - keep_buckets, "fixture must empty at least one bucket"
    ivf_index_delete(spark, path, dels)
    refreshed = refresh_lookup_buckets(spark, path, dels)
    assert set(refreshed) == del_buckets
    lookup_local = local / "lookup"
    for b in del_buckets:
        assert (lookup_local / f"bucket={b}").exists() == (b in keep_buckets)


def _mk_split_layout(spark, path):
    """Hand-built split layout: cell 0 is split (two sub-centroids),
    cell 1 is healthy (no sub_centroids rows, vectors in sub_id=0)."""
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, c_emb array<double>"
    )
    subs = spark.createDataFrame(
        [(0, 0, [0.9, 0.3]), (0, 1, [0.9, -0.3])],
        "centroid_id int, sub_id int, s_emb array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.2], 0, 0),
            (2, [1.0, -0.2], 0, 1),
            (3, [0.1, 1.0], 1, 0),
        ],
        "vec_id long, embedding array<double>, centroid_id int, sub_id int",
    )
    cents.write.parquet(os.path.join(path, "centroids"))
    subs.write.parquet(os.path.join(path, "sub_centroids"))
    vecs.write.partitionBy("centroid_id", "sub_id").parquet(
        os.path.join(path, "vectors")
    )


def test_split_add_two_stage_assignment_and_byte_identity(spark, tmp_path):
    """ivf_index_incremental_add assigns through BOTH frozen quantizer
    levels (split cell → its nearest sub-cell, healthy cell → sub_id=0)
    and appends only into touched (centroid_id, sub_id) partitions."""
    path = str(tmp_path / "split_idx")
    _mk_split_layout(spark, path)
    vectors = os.path.join(path, "vectors")
    before = _file_census(vectors)

    batch = spark.createDataFrame(
        [(100, [1.0, 0.25])], "vec_id long, embedding array<double>"
    )
    touched = ivf_index_incremental_add(spark, path, batch)
    assert touched == [(0, 0)]

    after = _file_census(vectors)
    for rel, meta in before.items():
        if not rel.startswith(os.path.join("centroid_id=0", "sub_id=0")):
            assert after.get(rel) == meta, f"untouched file changed: {rel}"
    got = {
        (r["vec_id"], r["centroid_id"], r["sub_id"])
        for r in spark.read.parquet(vectors)
        .select("vec_id", "centroid_id", "sub_id")
        .collect()
    }
    assert (100, 0, 0) in got and len(got) == 4

    # healthy-cell batch lands in sub_id=0; opposite sub-cell reachable
    touched = ivf_index_incremental_add(
        spark,
        path,
        spark.createDataFrame(
            [(101, [0.0, 0.9]), (102, [1.0, -0.25])],
            "vec_id long, embedding array<double>",
        ),
    )
    assert touched == [(0, 1), (1, 0)]


def test_split_add_skip_existing_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "split_idx2")
    _mk_split_layout(spark, path)
    vectors = os.path.join(path, "vectors")
    batch = spark.createDataFrame(
        [(100, [1.0, 0.25])], "vec_id long, embedding array<double>"
    )
    ivf_index_incremental_add(spark, path, batch, skip_existing=True)
    n_1 = spark.read.parquet(vectors).count()
    ivf_index_incremental_add(spark, path, batch, skip_existing=True)
    assert spark.read.parquet(vectors).count() == n_1


def test_split_layout_delete_sweeps_emptied_sub_leaf(spark, tmp_path):
    """The generic delete on the split key (centroid_id, sub_id): empty
    a sub-leaf → its directory is swept; the parent cell dir survives
    while its other sub-leaf has rows."""
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    path = str(tmp_path / "split_idx3")
    _mk_split_layout(spark, path)
    vectors = os.path.join(path, "vectors")
    dels = spark.createDataFrame([(2,)], "vec_id long")
    touched = ivf_index_delete(spark, path, dels)
    assert touched == [(0, 1)]
    assert not os.path.exists(os.path.join(vectors, "centroid_id=0", "sub_id=1"))
    assert os.path.exists(os.path.join(vectors, "centroid_id=0", "sub_id=0"))
    left = {r["vec_id"] for r in spark.read.parquet(vectors).select("vec_id").collect()}
    assert left == {1, 3}


def test_index_delete_duplicate_ids_and_hint_paths(spark, tmp_path):
    """The r13 fused-locate internals: the delete list is distinct-ed into
    its materialization (duplicate ids must not distort the per-partition
    victim/total counts that decide the sweep), and ``n_ids_hint`` — the
    caller-supplied broadcast bound replacing the probe job — must leave
    results identical whichever side of the bound the hint lands on."""
    from vacancy_analyser_spark.plans.similarity import ivf_index_delete

    rows = [(i, [1.0, 0.0, float(i % 3) * 0.01]) for i in range(6)] + [
        (10 + i, [0.0, 1.0, float(i % 3) * 0.01]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def build(name):
        path = str(tmp_path / name)
        ivf_build_index_frame(vecs, path, n_centroids=2)
        return path

    def surviving(path):
        return {
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(os.path.join(path, "vectors"))
            .select("vec_id", "centroid_id")
            .collect()
        }

    # duplicate every id three times; delete must behave as if each id
    # appeared once — partitions with survivors rewritten, emptied ones
    # swept (vec_ids 0..5 share one bucket; delete 0..2 leaves 3..5)
    dels_dup = spark.createDataFrame(
        [(v,) for v in (0, 1, 2)] * 3, "vec_id long"
    )
    p1 = build("dup")
    t1 = ivf_index_delete(spark, p1, dels_dup)
    assert t1
    assert {v for v, _ in surviving(p1)} == {3, 4, 5, 10, 11, 12}

    # hint below the broadcast bound (broadcast path) and a deliberately
    # oversized hint (shuffled path) must produce identical indexes
    dels = spark.createDataFrame([(v,) for v in (0, 1, 2)], "vec_id long")
    p2, p3 = build("hint_small"), build("hint_big")
    t2 = ivf_index_delete(spark, p2, dels, n_ids_hint=3)
    t3 = ivf_index_delete(spark, p3, dels, n_ids_hint=10**9)
    assert t2 == t3 == t1
    assert surviving(p2) == surviving(p3) == surviving(p1)
