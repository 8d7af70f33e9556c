"""Driver-visible batch-replay keys for the streaming-only operators.

The engine's streaming surfaces (streaming/neardup.py, monitor.py,
ingest.py) are pinned equal to batch twins in tests/test_streaming.py, but
until r4 none had a registered `queries()` key — their correctness
evidence lived repo-side only. Each key here runs the REAL streaming
machinery (readStream over a deterministic file fixture written from the
sf tables, Trigger.AvailableNow, applyInPandasWithState / foreachBatch)
inside the query function and returns the materialized result, with a
full ANSI oracle replaying the same prequential semantics, so the driver
hash-checks the streaming code path itself, not a batch stand-in.

Fixture discipline: three micro-batches split by `key % 3`, written as one
parquet file each in batch order and consumed with maxFilesPerTrigger=1 —
the same deterministic-replay shape the streaming tests use. Fresh temp
dirs per call keep repeated runs (parity harness + driver) independent.

These queries are test harnesses by construction — the local-mode cost of
running a stream inside a query fn is the price of driver-visible
evidence; production use of the operators is the streaming API itself.
"""

from __future__ import annotations

import functools
import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .dedup import (
    JACCARD_T,
    _BIGRAMS_SQL,
    _NORM_SQL,
    _band_sql,
    _minhash_sig_sql,
)
from .registry import register

#: z-score flag threshold for the monitor replay (2σ keeps the flagged set
#: non-trivial at every sf dir; the monitor default of 3σ flags nothing at
#: sf0.001's 1000 events).
_Z_LIMIT = 2.0


#: Stream-side shuffle width for the replay keys (r12, guide §2.2/§2.4).
#: A stateful micro-batch pays per-STATE-STORE-INSTANCE overhead on every
#: trigger (one store open + commit + snapshot per shuffle partition per
#: stateful operator), and these replays push a few thousand rows per
#: trigger — at the batch session's width of 32 the per-trigger cost is
#: almost entirely store bookkeeping, not data (measured on
#: late_data_policy, 3 triggers at sf0.1: 18.6 s at width 32 → 4.2 s at
#: width 8; the aggregate itself is partition-count-invariant, so results
#: are identical). Production streams size state partitions to THROUGHPUT
#: (rows/trigger ÷ target rows/task), not to the batch scan width — set
#: $SPARK_GRAFT_STREAM_SHUFFLE to match the deployment's trigger volume.
STREAM_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))


#: Optional state-store provider override for the stateful replays
#: (r13, guide §5 bounded state memory): set
#: $SPARK_GRAFT_STATE_STORE=rocksdb to run them on the RocksDB provider
#: (state off-heap + spillable — the production choice once per-instance
#: state outgrows executor heap). Default stays the HDFS-backed in-memory
#: provider: at replay scale the A/B measured RocksDB strictly slower
#: (its per-trigger maintenance/compaction overhead dominates tiny
#: state), so the knob exists for deployments, not for the bench.
_STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}
_STATE_STORE_ENV = os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()


@contextmanager
def _stream_width(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` (and, when the env knob asks,
    the state-store provider) to the replay width for the duration of a
    replay's stream run, restoring the session values after (the
    checkpoint pins state partitioning at first trigger, and every replay
    uses a fresh checkpoint, so the scope never fights a resumed
    stream)."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    provider = _STATE_STORE_PROVIDERS.get(_STATE_STORE_ENV)
    if provider:
        spark.conf.set(provider_key, provider)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if provider:
            if old_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, old_provider)


def _narrow_stream_width(fn):
    """Run a registered replay under the narrowed stream width. Applied
    UNDER @register so the registered callable carries the scope; the
    lazily-consumed tail (memory-table projections) that executes after
    return runs at the session width over sink-sized rows — irrelevant."""

    @functools.wraps(fn)
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        with _stream_width(spark):
            return fn(spark, sf_dir)

    return inner


def _stage_batches(frames: list[DataFrame], src: str) -> None:
    """Write each micro-batch frame into ``src`` as one parquet file with
    strictly increasing 1-second-spaced mtimes in list order — the
    FileStreamSource replay contract (the source orders files by
    MODIFICATION TIME, millisecond-granular on the local FS, so ties
    would replay in random UUID-filename order; the explicit stamps make
    replay order a property of the list, not of write speed).

    The writes are INDEPENDENT jobs (each scans its own slice of the
    source lineage), so they are submitted from a small thread pool and
    overlap (guide §2.6) instead of serializing ~1 scan+write wall each —
    at bench scale the fixture writes were a measurable slice of every
    replay key. Concurrent appends cannot share one target directory
    (the commit protocol's _temporary dir collides), so each batch writes
    to its own staging dir and the single data file is then MOVED into
    ``src`` with its batch's mtime stamp."""
    import glob
    import os
    import shutil
    import time
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(src, exist_ok=True)
    stages = [f"{src.rstrip('/')}__stage{i}" for i in range(len(frames))]

    def _write(i: int) -> None:
        frames[i].coalesce(1).write.mode("overwrite").parquet(stages[i])

    # 3 in flight: enough to back-fill each write's straggler tail, not so
    # many that tiny jobs fight for executor slots (guide §2.6)
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_write, range(len(frames))))
    now = time.time()
    for i, stage in enumerate(stages):
        stamp = now - (len(frames) - i) * 1.0
        for f in sorted(glob.glob(os.path.join(stage, "part-*"))):
            dest = os.path.join(src, os.path.basename(f))
            os.rename(f, dest)
            os.utime(dest, (stamp, stamp))
        shutil.rmtree(stage, ignore_errors=True)


def _write_batches(df: DataFrame, key: str, src: str) -> None:
    """Write df as three single-file micro-batches (key % 3) in batch
    order — FileStreamSource with maxFilesPerTrigger=1 then replays them
    as three triggers in the same order, which is what makes the
    prequential oracles below well-defined. Staged + overlapped since
    r13 (see _stage_batches)."""
    _stage_batches([df.filter((F.col(key) % 3) == k) for k in range(3)], src)


def _await(q, seconds: int = 300) -> None:
    """awaitTermination returning False means the cap elapsed mid-stream —
    fail LOUDLY instead of returning a partial (wrong-but-plausible)
    result to the oracle compare."""
    if not q.awaitTermination(seconds):
        q.stop()
        raise TimeoutError(f"replay stream exceeded {seconds}s")


def _cleanup(*dirs: str) -> None:
    """Drop replay fixture/checkpoint dirs once their data is materialized
    elsewhere — repeated parity/driver runs would otherwise accumulate a
    corpus copy per invocation in /tmp."""
    import shutil

    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(
    stream_df: DataFrame, ckpt: str, src: str, output_mode: str = "append"
) -> DataFrame:
    """Drive the stream into a memory sink and return its table; fixture
    and checkpoint dirs are cleaned in a finally (the sink holds the rows
    in driver memory), so even a timeout leaks nothing. ``output_mode``
    is "complete" for unfinalized-aggregation replays (session windows:
    append would hold every session back behind a watermark that never
    passes the last event)."""
    name = f"replay_{uuid.uuid4().hex[:12]}"
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    finally:
        _cleanup(src, ckpt)
    return stream_df.sparkSession.table(name)


@register(
    "streaming_neardup_replay",
    oracle=f"""
        WITH {_minhash_sig_sql()},
        bands AS ({_band_sql()})
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id
    """,
    tags=("ext-streaming", "replay"),
)
@_narrow_stream_width
def streaming_neardup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming MinHash-LSH near-dup operator
    (streaming/neardup.py::streaming_near_dup — per-bucket
    applyInPandasWithState, first-agreeing-band pair ownership), driven
    over the documents table as a three-batch stream. Emitted pairs must
    equal the batch ``minhash_lsh_dedup`` over the union of the batches —
    the oracle IS that query's band-join SQL."""
    from ..streaming.neardup import streaming_near_dup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="neardup_src_")
    ckpt = tempfile.mkdtemp(prefix="neardup_ckpt_")
    _write_batches(docs, "doc_id", src)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    return _run_to_memory(streaming_near_dup(stream), ckpt, src).select("a_id", "b_id")


@register(
    "streaming_zscore_replay",
    oracle=f"""
        WITH e AS (
            SELECT event_id, event_type, value, event_id % 3 AS b
            FROM events WHERE isfinite(value)
        ),
        g AS (
            SELECT event_type, b, COUNT(*) AS cnt, SUM(value) AS s
            FROM e GROUP BY event_type, b
        ),
        cum AS (
            SELECT event_type, b,
                   COALESCE(SUM(cnt) OVER w, 0) AS n,
                   SUM(s) OVER w AS s
            FROM g
            WINDOW w AS (PARTITION BY event_type ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        m AS (
            SELECT event_type, b, n, s / n AS mean FROM cum WHERE n > 1
        ),
        -- variance in the stable TWO-PASS form (mean of squared residuals
        -- over prior batches), matching the monitor's Welford state to far
        -- past the 6 rounded decimals at ANY mean magnitude; the sum form
        -- s2/n - mean^2 cancels catastrophically for large means — the
        -- exact failure the monitor's r4 Welford rewrite removed
        v AS (
            SELECT m.event_type, m.b, m.n, m.mean,
                   SUM((p.value - m.mean) * (p.value - m.mean)) / m.n AS var
            FROM m JOIN e p ON p.event_type = m.event_type AND p.b < m.b
            GROUP BY m.event_type, m.b, m.n, m.mean
        ),
        scored AS (
            SELECT e.event_id, e.event_type, e.value,
                   (e.value - v.mean) / sqrt(v.var) AS z
            FROM e JOIN v ON e.event_type = v.event_type AND e.b = v.b
            WHERE v.var > 0
        )
        SELECT event_id, event_type, value, round(z, 6) AS zscore
        FROM scored WHERE abs(z) > {_Z_LIMIT}
    """,
    tags=("ext-streaming", "replay"),
)
@_narrow_stream_width
def streaming_zscore_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prequential drift monitor
    (streaming/monitor.py::streaming_zscore — Welford running state per
    event type, each batch scored against PRIOR batches only) over the
    events table as a three-batch stream. The oracle replays the same
    prequential split with cumulative-window means and TWO-PASS variances
    (mean of squared residuals) — the numerically stable pair to Welford,
    agreeing to far past the six rounded decimals at any mean magnitude
    (verified at every sf dir)."""
    from ..streaming.monitor import streaming_zscore

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = tempfile.mkdtemp(prefix="zmon_src_")
    ckpt = tempfile.mkdtemp(prefix="zmon_ckpt_")
    _write_batches(ev, "event_id", src)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    return _run_to_memory(streaming_zscore(stream, limit=_Z_LIMIT), ckpt, src)


@register(
    "corpus_ingest_replay",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, doc_id % 3 AS b, md5({_NORM_SQL}) AS fingerprint
            FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id, unnest({_BIGRAMS_SQL}) AS bigram FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        jac AS (
            SELECT a.doc_id AS x, b.doc_id AS y,
                   CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)) AS j
            FROM g a JOIN g b ON a.bigram = b.bigram AND a.doc_id <> b.doc_id
            JOIN sizes sa ON a.doc_id = sa.doc_id
            JOIN sizes sb ON b.doc_id = sb.doc_id
            GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        ),
        k AS (
            SELECT doc_id, b, fingerprint FROM (
                SELECT doc_id, b, fingerprint,
                       MIN(doc_id) OVER (PARTITION BY b, fingerprint) AS keeper
                FROM d
            ) WHERE doc_id = keeper
        ),
        s0 AS (SELECT doc_id, fingerprint FROM k WHERE b = 0),
        s1 AS (
            SELECT k.doc_id, k.fingerprint FROM k WHERE b = 1
              AND NOT EXISTS (SELECT 1 FROM s0 WHERE s0.fingerprint = k.fingerprint)
              AND NOT EXISTS (SELECT 1 FROM jac JOIN s0 ON jac.y = s0.doc_id
                              WHERE jac.x = k.doc_id AND jac.j >= {JACCARD_T})
        ),
        p2 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
        s2 AS (
            SELECT k.doc_id, k.fingerprint FROM k WHERE b = 2
              AND NOT EXISTS (SELECT 1 FROM p2 WHERE p2.fingerprint = k.fingerprint)
              AND NOT EXISTS (SELECT 1 FROM jac JOIN p2 ON jac.y = p2.doc_id
                              WHERE jac.x = k.doc_id AND jac.j >= {JACCARD_T})
        ),
        surv AS (
            SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
        )
        SELECT surv.doc_id, surv.fingerprint, COALESCE(sizes.n, 0) AS n_shingles
        FROM surv LEFT JOIN sizes ON surv.doc_id = sizes.doc_id
    """,
    tags=("ext-streaming", "replay"),
)
@_narrow_stream_width
def corpus_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch corpus-ingest loop
    (streaming/ingest.py::corpus_ingest_stream — per batch: in-batch exact
    keeper, corpus fingerprint anti-join, asymmetric batch×corpus near-dup
    kill, survivors appended to the durable parquet corpus) over the
    documents table as a three-batch stream. Returns the final corpus
    (doc_id, fingerprint, shingle-set size); the oracle replays the three
    gate stages sequentially as CTEs s0/s1/s2. In-batch NEAR dups survive
    by contract (only prior-batch comparisons kill), which the oracle
    mirrors by joining each batch against prior survivors only."""
    from ..streaming.ingest import corpus_ingest_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="ingest_src_")
    ckpt = tempfile.mkdtemp(prefix="ingest_ckpt_")
    corpus = tempfile.mkdtemp(prefix="ingest_corpus_") + "/corpus"
    _write_batches(docs, "doc_id", src)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        corpus_ingest_stream(stream, corpus)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await(q)
        # localize the driver-sized result (id + hash + int per doc; the
        # TEXT column never leaves the corpus) so the corpus dir itself
        # can be cleaned too — returning a lazy reader over it would pin
        # one corpus parquet copy per invocation in /tmp
        rows = (
            spark.read.parquet(corpus)
            .select("doc_id", "fingerprint", F.size("shingles").alias("n_shingles"))
            .collect()
        )
    finally:
        _cleanup(src, ckpt, os.path.dirname(corpus))
    return spark.createDataFrame(rows, "doc_id long, fingerprint string, n_shingles int")


#: The snapshot-stream fixture reuses snapshot_merge's two event windows
#: (plans/snapshot.py) as full snapshots DATED at each window's end.
_SNAP_A = ("2024-01-01 00:00:00", "2024-01-16 00:00:00", "2024-01-16")
_SNAP_B = ("2024-01-08 00:00:00", "2024-01-31 00:00:00", "2024-01-31")


@register(
    "snapshot_stream_replay",
    oracle=f"""
        WITH a AS (
            SELECT user_id, COUNT(*) AS n_events FROM events
            WHERE ts >= TIMESTAMP '{_SNAP_A[0]}' AND ts < TIMESTAMP '{_SNAP_A[1]}'
            GROUP BY user_id
        ),
        b AS (
            SELECT user_id, COUNT(*) AS n_events FROM events
            WHERE ts >= TIMESTAMP '{_SNAP_B[0]}' AND ts < TIMESTAMP '{_SNAP_B[1]}'
            GROUP BY user_id
        )
        SELECT COALESCE(a.user_id, b.user_id) AS id,
               COALESCE(b.n_events, a.n_events) AS n_events,
               CASE WHEN a.user_id IS NULL THEN '{_SNAP_B[2]}'
                    ELSE '{_SNAP_A[2]}' END AS added_at,
               CASE WHEN a.user_id IS NULL THEN '{_SNAP_B[2]}'
                    WHEN b.user_id IS NULL THEN '{_SNAP_A[2]}'
                    WHEN a.n_events <> b.n_events THEN '{_SNAP_B[2]}'
                    ELSE '{_SNAP_A[2]}' END AS updated_at,
               -- an all-empty snapshot B produces NO batch rows, so the
               -- stream's fold never sees date B and nothing is removed;
               -- mirror that: removal requires snapshot B to be non-empty
               CASE WHEN b.user_id IS NULL
                     AND (SELECT COUNT(*) FROM b) > 0 THEN '{_SNAP_B[2]}'
               END AS removed_at
        FROM a FULL JOIN b ON a.user_id = b.user_id
    """,
    tags=("ext-streaming", "replay", "D2"),
)
@_narrow_stream_width
def snapshot_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D2 snapshot-directory merge stream
    (streaming/snapshot_stream.py::start_snapshot_merge_stream — file
    source over snapshot_date=* dirs, foreachBatch folding snapshots
    oldest-first through operators/merge.py, atomic state swap) driven
    over two event-derived snapshots dated at their window ends. Returns
    the final lifecycle state; the oracle derives every lifecycle date
    from the merge contract (min added_at, changed-only updated_at bump,
    absent-from-snapshot → removed_at). This closes the last
    streaming-only surface without a driver-checked key."""
    from pyspark.sql import types as T

    from ..streaming.snapshot_stream import ParquetStateStore, start_snapshot_merge_stream

    root = tempfile.mkdtemp(prefix="snapstream_root_")
    ckpt = tempfile.mkdtemp(prefix="snapstream_ckpt_")
    store = ParquetStateStore(tempfile.mkdtemp(prefix="snapstream_state_"))
    for lo, hi, date_str in (_SNAP_A, _SNAP_B):
        snap = (
            load_table(spark, sf_dir, "events", ts_filters=[("ts", ">=", lo), ("ts", "<", hi)])
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("user_id").alias("id"), "n_events")
        )
        snap.write.mode("overwrite").parquet(f"{root}/snapshot_date={date_str}")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n_events", T.LongType())]
    )
    out_schema = "id long, n_events bigint, added_at string, updated_at string, removed_at string"
    try:
        q = start_snapshot_merge_stream(spark, root, store, ckpt, schema)
        _await(q)
        state = store.read(spark)
        if state is None:
            # empty source table → both snapshots empty → the fold never
            # wrote state (fold_batch returns on an empty batch); the
            # merged state of nothing is the empty frame, matching the
            # oracle's empty full join
            rows = []
        else:
            # lifecycle dates as ISO strings: a DATE travels as
            # datetime.date from Spark but datetime64 from DuckDB via
            # pandas — the string form is the engine-neutral
            # representation the compare hashes. Localized (driver-sized:
            # one row per user) so the state-store dir can be cleaned.
            rows = state.select(
                "id",
                "n_events",
                F.col("added_at").cast("string").alias("added_at"),
                F.col("updated_at").cast("string").alias("updated_at"),
                F.col("removed_at").cast("string").alias("removed_at"),
            ).collect()
    finally:
        _cleanup(root, ckpt, store.root)
    return spark.createDataFrame(rows, out_schema)


@register(
    "streaming_session_replay",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                        WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        )
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               COUNT(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
    """,
    tags=("ext-streaming", "replay"),
)
@_narrow_stream_width
def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming session-window aggregation (ST4's stateful form)
    driven over the events table as a three-batch file stream. The batch
    split is event_id % 3 — deliberately NOT time-ordered, so sessions
    arrive in pieces across micro-batches and the session-window STATE
    STORE must merge partial sessions trigger over trigger (the stateful
    behavior a batch run cannot exhibit; the registered
    session_window_count pins only the batch form). Complete output mode:
    session aggregations in append mode finalize behind the watermark,
    which never passes the final event of a bounded replay — complete
    mode emits the end-state table, which must equal the batch
    sessionization exactly. The oracle is session_window_count's
    gaps-and-islands SQL verbatim: merged-across-batches streaming state
    == one-shot batch sessions, hash-checked by the driver."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    src = tempfile.mkdtemp(prefix="sess_src_")
    ckpt = tempfile.mkdtemp(prefix="sess_ckpt_")
    _write_batches(ev, "event_id", src)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return _run_to_memory(agg, ckpt, src, output_mode="complete")


def _ann_ingest_oracle() -> str:
    """Full-rebuild-equivalence oracle for the streaming ingest: train the
    Lloyd chain on the FIRST batch only (the standing index the stream
    folds into), assign EVERY vector against those frozen centroids. The
    same statement ann_index_incremental_add pins for the one-shot batch
    add (similarity.py), re-derived at this key's base slice (vec_id % 3
    = 0) — the stream's three-trigger fold must land exactly there."""
    from .similarity import _lloyd_chain_sql

    return f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        base AS (SELECT vec_id, emb FROM vecs WHERE vec_id % 3 = 0),
        {_lloyd_chain_sql(src="base")},
        ranked AS (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(v.emb, c.c_emb), 9) DESC,
                                c.centroid_id
                   ) AS rn
            FROM vecs v CROSS JOIN c1 c
        )
        SELECT vec_id, centroid_id FROM ranked WHERE rn = 1
    """


@register(
    "ann_ingest_replay",
    oracle=_ann_ingest_oracle(),
    tags=("ext-streaming", "ext-sim", "replay"),
)
@_narrow_stream_width
def ann_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ANN-ingest loop (streaming/ann_ingest.py — foreachBatch
    over the frozen-centroid incremental add, skip_existing idempotency)
    driven over the embeddings table as a three-batch file stream, the
    last streaming surface without a replay key (r8 verdict item 4).

    Fixture: batch 0 (vec_id % 3 = 0) builds the standing index via
    ivf_build_index_frame — the trainer runs ONCE, before the stream, as
    in production. All THREE batches then replay through the stream, so
    the fold must (a) anti-join batch 0 back out (the at-least-once
    redelivery case, exercised on the driver's own check, not just in
    pytest) and (b) append batches 1-2 against the STORED centroids with
    no retraining. The returned frame is the final on-disk index
    (vec_id → centroid_id); the oracle is the full-rebuild-equivalence
    statement re-derived at this slice: Lloyd-train on batch 0, assign
    everything against those frozen centroids. Untouched-partition
    byte-identity across triggers is asserted in
    tests/test_ann_ingest_stream.py.

    Scale shape: per trigger, one broadcast assignment over the BATCH
    plus partition-scoped appends — ingest cost tracks the changeset,
    never the corpus; the trainer is outside the steady-state loop."""
    from ..plans.similarity import (
        _memo_read,
        _vectors,
        auto_centroids,
        ivf_build_index_frame,
    )
    from ..streaming.ann_ingest import start_ann_ingest_stream

    vecs = _vectors(spark, sf_dir).select("vec_id", "embedding")
    base = vecs.filter((F.col("vec_id") % 3) == 0)
    n_base = base.count()
    if n_base == 0:
        return spark.createDataFrame([], "vec_id bigint, centroid_id bigint")
    root = tempfile.mkdtemp(prefix="ann_ingest_replay_")
    index = os.path.join(root, "index")
    src = os.path.join(root, "arrivals")
    ckpt = os.path.join(root, "ckpt")
    try:
        # one schema memo for the key's whole index lifetime: this function
        # owns the fresh tmpdir index end to end, so build read-backs, every
        # fold trigger and the final read share one inference per table
        memo: dict = {}
        ivf_build_index_frame(
            base, index, n_centroids=auto_centroids(n_base), schema_memo=memo
        )
        _write_batches(vecs, "vec_id", src)
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_ann_ingest_stream(
            stream, index, ckpt, available_now=True, schema_memo=memo
        )
        _await(q)
        # localCheckpoint (eager) severs lineage from the fixture files so
        # they can be cleaned before returning, while the assignment stays
        # DISTRIBUTED as executor blocks — at scale a .collect() here
        # would localize the whole index assignment to the driver (the r9
        # advice finding; two ints per vector is still O(corpus))
        out = (
            _memo_read(spark, os.path.join(index, "vectors"), memo)
            .select(
                "vec_id", F.col("centroid_id").cast("bigint").alias("centroid_id")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _cleanup(root)
    return out


def _ann_stream_delete_ivf2_oracle() -> str:
    """Full-chain-minus-deleted oracle on the TWO-LEVEL layout — the same
    statement ann_ivf2_index_delete pins for the one-shot batch delete
    (similarity.py): the streamed queue must land the index exactly
    there, redeliveries and batch boundaries notwithstanding."""
    from .similarity import DEL_MOD, DEL_REM, _ivf2_chain_sql, _lloyd_chain_sql

    return f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        {_lloyd_chain_sql(src="vecs")},
        {_ivf2_chain_sql(src="vecs")},
        f2c AS (
            SELECT centroid_id, coarse_id FROM (
                SELECT f.centroid_id, g.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY f.centroid_id
                           ORDER BY round(list_cosine_similarity(f.c_emb, g.g_emb), 9) DESC,
                                    g.coarse_id
                       ) AS rn
                FROM fine f CROSS JOIN coarse g
            ) WHERE rn = 1
        ),
        ranked AS (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(v.emb, c.c_emb), 9) DESC,
                                c.centroid_id
                   ) AS rn
            FROM vecs v CROSS JOIN fine c
        ),
        assigned AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1)
        SELECT a.vec_id, a.centroid_id, f.coarse_id
        FROM assigned a JOIN f2c f ON a.centroid_id = f.centroid_id
        WHERE a.vec_id % {DEL_MOD} <> {DEL_REM}
    """


@register(
    "ann_stream_delete_ivf2",
    oracle=_ann_stream_delete_ivf2_oracle(),
    tags=("ext-streaming", "ext-sim", "replay", "opt-partition-pruning"),
)
@_narrow_stream_width
def ann_stream_delete_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming takedown queue driven over a NESTED layout,
    oracle-checked (r10 verdict: the queue was layout-generic but only
    the flat layout had a streamed oracle; at scale the nested layouts
    are the ones actually served).
    Fixture: build the full two-level index, then replay the takedown set
    (vec_id ≡ {{DEL_REM}} mod {{DEL_MOD}}) through
    start_ann_delete_stream as FOUR micro-batches — the ids split in
    three, PLUS a fourth trigger REDELIVERING the first batch's ids (the
    at-least-once case: deleting an absent id locates no victims and
    writes nothing, so the redelivery must be a provable no-op on the
    driver's own check, not just in pytest). Per trigger the fold runs
    ivf_index_delete on the index's (coarse_id, centroid_id) key:
    nested victim directories rewritten, emptied leaves swept with their
    hollow parents, both quantizer levels frozen, each fold under the
    index's maintenance lease.

    The returned frame is the final on-disk index; the oracle is the
    batch delete's full-chain-minus-deleted statement — a stream that
    dropped a queue entry, double-applied a redelivery, or left a dead
    nested directory serving rows hash-mismatches."""
    from concurrent.futures import ThreadPoolExecutor

    from ..plans.similarity import (
        DEL_MOD,
        DEL_REM,
        IVF2,
        _memo_read,
        _vectors,
        auto_centroids,
    )
    from ..streaming.ann_ingest import start_ann_delete_stream

    vecs = _vectors(spark, sf_dir).select("vec_id", "embedding")
    n = vecs.count()
    if n == 0:
        return spark.createDataFrame(
            [], "vec_id bigint, centroid_id bigint, coarse_id bigint"
        )
    k = auto_centroids(n)
    root = tempfile.mkdtemp(prefix="ann_stream_del2_")
    index = os.path.join(root, "index")
    src = os.path.join(root, "queue")
    ckpt = os.path.join(root, "ckpt")
    try:
        # one schema memo for the key's whole index lifetime (see
        # ann_ingest_replay)
        memo: dict = {}
        dels = vecs.filter(
            (F.col("vec_id") % DEL_MOD) == DEL_REM
        ).select("vec_id")
        batches = [dels.filter((F.col("vec_id") % 3) == b) for b in range(3)]
        # fourth, latest-mtime batch: batch 0's ids again — redelivery
        batches.append(batches[0])
        # build ∥ queue staging — independent job chains (guide §2.6; see
        # ann_apply_log_replay)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut = pool.submit(IVF2.build, vecs, index, k, schema_memo=memo)
            _stage_batches(batches, src)
            fut.result()
        stream = (
            spark.readStream.schema(dels.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_ann_delete_stream(
            stream, index, ckpt, available_now=True, schema_memo=memo
        )
        _await(q)
        out = (
            _memo_read(spark, os.path.join(index, "vectors"), memo)
            .select(
                "vec_id",
                F.col("centroid_id").cast("bigint").alias("centroid_id"),
                F.col("coarse_id").cast("bigint").alias("coarse_id"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _cleanup(root)
    return out


def _ann_apply_log_oracle() -> str:
    """The command log's net effect: Lloyd-train on the standing slice
    (vec_id % 3 = 0), assign EVERYTHING against those frozen centroids,
    minus the takedown class — adds' rebuild equivalence and deletes'
    minus statement composed, order made irrelevant by the log replaying
    adds before deletes."""
    from .similarity import DEL_MOD, DEL_REM, _lloyd_chain_sql

    return f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        base AS (SELECT vec_id, emb FROM vecs WHERE vec_id % 3 = 0),
        {_lloyd_chain_sql(src="base")},
        ranked AS (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(v.emb, c.c_emb), 9) DESC,
                                c.centroid_id
                   ) AS rn
            FROM vecs v CROSS JOIN c1 c
        )
        SELECT vec_id, centroid_id FROM ranked
        WHERE rn = 1 AND vec_id % {DEL_MOD} <> {DEL_REM}
    """


@register(
    "ann_apply_log_replay",
    oracle=_ann_apply_log_oracle(),
    tags=("ext-streaming", "ext-sim", "replay", "opt-partition-pruning"),
)
@_narrow_stream_width
def ann_apply_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SINGLE-OWNER maintenance loop, driver-checked end to end: one
    command log — (op, vec_id, embedding) rows, op ∈ {add, del} — drives
    ingest AND takedown through start_ann_apply_stream's one foreachBatch
    owner (streaming/ann_ingest.py), the architecture that removes the
    concurrent-writers hazard outright: ordering between an add and a
    takedown is the log's order, not a race the lease must referee.

    Fixture: batch 0 (vec_id % 3 = 0) builds the standing index; the log
    then replays as five mtime-ordered triggers — adds for the other two
    corpus slices, a REDELIVERED add batch for the standing slice (the
    skip_existing no-op, on the driver's own check), a delete batch for
    the takedown class (vec_id ≡ 5 mod 16), and a REDELIVERED delete
    batch (the idempotent-delete no-op). The returned frame is the final
    on-disk index; the oracle is the composed net effect: everything
    assigned against the standing slice's frozen centroids, minus the
    takedown class. A loop that raced its phases, double-applied a
    redelivery, or dropped a log entry hash-mismatches."""
    from concurrent.futures import ThreadPoolExecutor

    from ..plans.similarity import (
        DEL_MOD,
        DEL_REM,
        _memo_read,
        _vectors,
        auto_centroids,
        ivf_build_index_frame,
    )
    from ..streaming.ann_ingest import start_ann_apply_stream

    vecs = _vectors(spark, sf_dir).select("vec_id", "embedding")
    base = vecs.filter((F.col("vec_id") % 3) == 0)
    n_base = base.count()
    if n_base == 0:
        return spark.createDataFrame([], "vec_id bigint, centroid_id bigint")
    root = tempfile.mkdtemp(prefix="ann_apply_log_")
    index = os.path.join(root, "index")
    src = os.path.join(root, "log")
    ckpt = os.path.join(root, "ckpt")
    try:
        # one schema memo for the key's whole index lifetime (see
        # ann_ingest_replay)
        memo: dict = {}
        add = vecs.select(F.lit("add").alias("op"), "vec_id", "embedding")
        dels = (
            vecs.filter(F.pmod(F.col("vec_id"), F.lit(DEL_MOD)) == DEL_REM)
            .select(
                F.lit("del").alias("op"),
                "vec_id",
                F.lit(None).cast("array<double>").alias("embedding"),
            )
        )
        batches = [
            add.filter((F.col("vec_id") % 3) == 1),
            add.filter((F.col("vec_id") % 3) == 2),
            add.filter((F.col("vec_id") % 3) == 0),  # redelivered adds
            dels,
            dels,  # redelivered takedowns
        ]
        # the standing-index build and the log-batch staging are
        # independent job chains over disjoint output dirs — overlapped
        # (guide §2.6) instead of paying build-then-writes serially
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut = pool.submit(
                ivf_build_index_frame,
                base,
                index,
                n_centroids=auto_centroids(n_base),
                schema_memo=memo,
            )
            _stage_batches(batches, src)
            fut.result()
        stream = (
            spark.readStream.schema("op string, vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_ann_apply_stream(
            stream, index, ckpt, available_now=True, schema_memo=memo
        )
        _await(q)
        out = (
            _memo_read(spark, os.path.join(index, "vectors"), memo)
            .select(
                "vec_id", F.col("centroid_id").cast("bigint").alias("centroid_id")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _cleanup(root)
    return out


def _ann_apply_log_ivf2_oracle() -> str:
    """The nested command log's net effect: both quantizer levels trained
    on the standing slice (vec_id % 3 = 0), everything assigned against
    the frozen fine centroids, nested coarse key joined on, minus the
    takedown class."""
    from .similarity import DEL_MOD, DEL_REM, _ivf2_chain_sql, _lloyd_chain_sql

    return f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        base AS (SELECT vec_id, emb FROM vecs WHERE vec_id % 3 = 0),
        {_lloyd_chain_sql(src="base")},
        {_ivf2_chain_sql(src="base")},
        f2c AS (
            SELECT centroid_id, coarse_id FROM (
                SELECT f.centroid_id, g.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY f.centroid_id
                           ORDER BY round(list_cosine_similarity(f.c_emb, g.g_emb), 9) DESC,
                                    g.coarse_id
                       ) AS rn
                FROM fine f CROSS JOIN coarse g
            ) WHERE rn = 1
        ),
        ranked AS (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(v.emb, c.c_emb), 9) DESC,
                                c.centroid_id
                   ) AS rn
            FROM vecs v CROSS JOIN fine c
        ),
        assigned AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1)
        SELECT a.vec_id, a.centroid_id, f.coarse_id
        FROM assigned a JOIN f2c f ON a.centroid_id = f.centroid_id
        WHERE a.vec_id % {DEL_MOD} <> {DEL_REM}
    """


@register(
    "ann_apply_log_ivf2",
    oracle=_ann_apply_log_ivf2_oracle(),
    tags=("ext-streaming", "ext-sim", "replay", "opt-partition-pruning"),
)
@_narrow_stream_width
def ann_apply_log_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-owner command log over the NESTED layout: the same
    five-trigger replay as ann_apply_log_replay (two add slices, a
    redelivered add batch, a delete batch, a redelivered delete batch)
    folded into a two-level index — adds assign once against the STORED fine
    table (the nested partition key rides the stored coarse_id, zero
    coarse-level work per trigger), deletes rewrite only the victim
    (coarse_id, centroid_id) directories, every fold under the lease.
    One applier serves every materialized shape; this key pins the
    nested one end to end against the composed net-effect oracle."""
    from concurrent.futures import ThreadPoolExecutor

    from ..plans.similarity import (
        DEL_MOD,
        DEL_REM,
        IVF2,
        _memo_read,
        _vectors,
        auto_centroids,
    )
    from ..streaming.ann_ingest import start_ann_apply_stream

    vecs = _vectors(spark, sf_dir).select("vec_id", "embedding")
    base = vecs.filter((F.col("vec_id") % 3) == 0)
    n_base = base.count()
    if n_base == 0:
        return spark.createDataFrame(
            [], "vec_id bigint, centroid_id bigint, coarse_id bigint"
        )
    k = auto_centroids(n_base)
    root = tempfile.mkdtemp(prefix="ann_apply_log2_")
    index = os.path.join(root, "index")
    src = os.path.join(root, "log")
    ckpt = os.path.join(root, "ckpt")
    try:
        # one schema memo for the key's whole index lifetime (see
        # ann_ingest_replay)
        memo: dict = {}
        add = vecs.select(F.lit("add").alias("op"), "vec_id", "embedding")
        dels = (
            vecs.filter(F.pmod(F.col("vec_id"), F.lit(DEL_MOD)) == DEL_REM)
            .select(
                F.lit("del").alias("op"),
                "vec_id",
                F.lit(None).cast("array<double>").alias("embedding"),
            )
        )
        batches = [
            add.filter((F.col("vec_id") % 3) == 1),
            add.filter((F.col("vec_id") % 3) == 2),
            add.filter((F.col("vec_id") % 3) == 0),  # redelivered adds
            dels,
            dels,  # redelivered takedowns
        ]
        # build ∥ log staging — independent job chains (guide §2.6; see
        # ann_apply_log_replay)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut = pool.submit(IVF2.build, base, index, k, schema_memo=memo)
            _stage_batches(batches, src)
            fut.result()
        stream = (
            spark.readStream.schema("op string, vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_ann_apply_stream(
            stream, index, ckpt, available_now=True, schema_memo=memo
        )
        _await(q)
        out = (
            _memo_read(spark, os.path.join(index, "vectors"), memo)
            .select(
                "vec_id",
                F.col("centroid_id").cast("bigint").alias("centroid_id"),
                F.col("coarse_id").cast("bigint").alias("coarse_id"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _cleanup(root)
    return out


#: ST1 watermark delay for the late-data replay. Events span ~30 days at
#: every sf, and each mod-3 batch spans the whole range — so after the
#: first trigger the watermark sits ~3 days behind the global max and the
#: later triggers carry REAL late data (windows long closed), which is
#: the policy under test.
_LATE_DELAY_DAYS = 3


@register(
    "late_data_policy",
    oracle=f"""
        WITH e AS (
            SELECT event_id, ts, event_type, value, event_id % 3 AS b
            FROM events
        ),
        bm AS (SELECT b, MAX(ts) AS mt FROM e GROUP BY b),
        wm AS (
            -- the engine publishes a batch's event-time stats into the
            -- offset log one batch later, so the filter in batch k uses
            -- the mark from batches <= k-2 (measured: trigger 1 drops
            -- nothing even when trigger 0 carried the global max)
            SELECT b,
                   MAX(mt) OVER (ORDER BY b
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                   - INTERVAL {_LATE_DELAY_DAYS} DAY AS w
            FROM bm
        ),
        cls AS (
            SELECT e.*,
                   (wm.w IS NOT NULL
                    AND date_trunc('day', e.ts) + INTERVAL 1 DAY <= wm.w) AS late
            FROM e JOIN wm ON e.b = wm.b
        )
        SELECT date_trunc('day', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM cls WHERE NOT late
        GROUP BY 1, 2
        UNION ALL
        -- the engine's numRowsDroppedByWatermark meters the STATE-STORE
        -- operator, which sits after the map-side partial aggregate: it
        -- counts dropped per-batch (window, key) GROUPS, not input rows
        SELECT TIMESTAMP '1970-01-01', '__late_dropped__',
               COUNT(*), CAST(0.0 AS DOUBLE)
        FROM (SELECT DISTINCT b, date_trunc('day', ts), event_type
              FROM cls WHERE late)
    """,
    tags=("ST1", "replay"),
)
@_narrow_stream_width
def late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 bounded-lateness policy, driver-visible: where the reference
    HARD-FAILS on out-of-order input (feeder_postgres.py:156-159), the
    engine bounds lateness with a watermark — late rows beyond it are
    dropped BY THE ENGINE and the drop is COUNTED (late_drop_count reads
    numRowsDroppedByWatermark — which meters the state-store operator
    AFTER the map-side partial aggregate, so its unit is dropped
    per-batch (window, key) groups, not input rows), while the on-time
    aggregate is untouched.

    This replay runs the real machinery: three file micro-batches, the
    tumbling aggregate under ``withWatermark(ts, 3 days)``, update-mode
    sink. The result is the final per-window state (per group, the last
    update — the row with the max monotone count) plus ONE synthetic
    ``__late_dropped__`` row carrying the engine's drop counter. The
    oracle replays the prequential watermark in SQL: the late-row filter
    in batch k uses the max event time of batches ≤ k-2 minus the delay
    (the engine publishes a batch's event-time stats into the offset log
    one batch later — measured, and safe: state eviction lags the same
    way, so a row passing the filter never lands on an evicted window),
    and a row is late iff its whole window closed before that mark."""
    from ..streaming.windows import late_drop_count, tumbling_counts

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        # withWatermark requires TIMESTAMP (LTZ); the testdata round-trip
        # can surface NTZ depending on the parquet's isAdjustedToUTC flag,
        # and the session runs UTC so the cast is value-identical
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    src = tempfile.mkdtemp(prefix="late_src_")
    ckpt = tempfile.mkdtemp(prefix="late_ckpt_")
    _write_batches(events, "event_id", src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = tumbling_counts(stream, window="1 day", watermark=f"{_LATE_DELAY_DAYS} days")
    name = f"replay_{uuid.uuid4().hex[:12]}"
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        dropped = late_drop_count(q)
    finally:
        _cleanup(src, ckpt)
    # update mode appends every re-emission of a group; the group's count
    # only grows, so the final state is the max-count row per group
    from pyspark.sql import Window

    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("n_events").desc()
    )
    final = (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    metric = spark.createDataFrame(
        [("1970-01-01 00:00:00", "__late_dropped__", dropped, 0.0)],
        "window_start string, event_type string, n_events bigint, sum_value double",
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    return final.unionByName(metric)
