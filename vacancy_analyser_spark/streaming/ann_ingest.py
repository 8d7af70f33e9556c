"""Streaming embedding ingest into the materialized IVF index — the D2
high-water-mark pattern (streaming/snapshot_stream.py, reference
feeder_postgres.py:224-259) composed with the incremental index add
(plans/similarity.py ivf_index_incremental_add): embeddings arrive as a
stream, each micro-batch assigns against the STORED frozen centroids and
appends to the touched centroid partitions only. No retraining, no
full-corpus stage per batch — the 100 TB ingest shape for the vector
surface, mirroring what the JDBC upsert stream does for the relational one.

Exactly-once story: foreachBatch re-runs a failed batch, and a plain
parquet append would double-insert on the retry — so every fold runs the
add with ``skip_existing=True`` (already-indexed vec_ids anti-joined out
against ONLY the touched partitions). With unique vec_ids the fold is
idempotent, so checkpoint replay and at-least-once delivery are safe.

Single-writer story: every maintenance op these folds compose
(incremental add, delete, compaction) is read-then-dynamic-overwrite and
loses rows written to a victim partition by a CONCURRENT writer between
its read and its commit. Each fold therefore runs under the index's
maintenance lease (operators/ixlock.py): an ingest loop, a takedown loop
and an out-of-band compact pointed at the same index serialize per
micro-batch instead of corrupting each other. A fold that cannot obtain
the lease within ``lease_timeout`` seconds raises — surfacing the
misconfiguration (two unserialized writers) instead of hiding it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.ixlock import maintenance_lease

#: How long a fold waits for the index's maintenance lease before failing
#: the batch. Generous: the legitimate holder is a sibling maintenance
#: loop mid-fold, and a trigger-time wait is backpressure, not deadlock.
DEFAULT_LEASE_TIMEOUT = 600.0


def _leased(
    index_path: str, owner: str, fold, lease_timeout: float,
    probe_empty: bool = True,
):
    """Wrap a foreachBatch fold so it runs under the index lease.

    ``probe_empty=False`` skips the pre-lease isEmpty job for folds that
    detect an empty batch themselves before touching the index (the
    apply-log fold's fused op-count aggregate): the probe is one driver
    round-trip PER TRIGGER, and for such folds it only protects the rare
    empty-batch case from a needlessly-taken (and immediately released)
    lease. Folds whose empty-input path would still scan the index keep
    the probe."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if probe_empty and batch_df.isEmpty():
            return
        with maintenance_lease(
            batch_df.sparkSession,
            index_path,
            owner=f"{owner}#batch{batch_id}",
            timeout=lease_timeout,
        ):
            fold(batch_df, batch_id)

    return run


def start_ann_ingest_stream(
    batches: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every: int | None = None,
    schema_memo: dict | None = None,
) -> StreamingQuery:
    """Fold a streaming (vec_id, embedding) frame into the index at
    ``index_path`` — any layout (built by Layout.build; its stored
    quantizer tables must exist, the trainer never runs here): each
    micro-batch goes through plans.similarity.ivf_index_incremental_add.

    Trigger contract mirrors start_jdbc_upsert_stream: ``available_now=True``
    drains what exists and stops (the cron-shaped ingest job);
    ``available_now=False`` requires ``processing_time`` for a resident
    stream — both misuse combinations raise.

    ``compact_every=N`` runs the small-file compaction
    (operators/compaction.py) after every Nth micro-batch: each add
    appends ≥1 file per touched partition, so a resident ingest stream
    fragments the index monotonically without in-loop maintenance — this
    is where the lifecycle's third op earns its keep. Compaction is a
    pure physical reorganization and idempotent, so a replayed trigger
    re-compacting is safe (same reasoning as skip_existing for the add);
    it rewrites only partitions holding more files than their bytes
    justify, so steady-state cost tracks the batches since the last
    sweep, not the index."""
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be a positive trigger count")

    import os

    from ..operators.compaction import compact_partitions
    from ..plans.similarity import index_layout, ivf_index_incremental_add

    # one schema memo per stream: this loop is the index's single writer
    # for its lifetime (every fold holds the maintenance lease), so the
    # interior schemas cannot change under it — the first trigger infers,
    # later triggers skip the per-table footer-inference job (_memo_read)
    memo = {} if schema_memo is None else schema_memo

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ivf_index_incremental_add(
            spark, index_path, batch_df, skip_existing=True, schema_memo=memo
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_partitions(
                spark,
                os.path.join(index_path, "vectors"),
                index_layout(spark, index_path, memo).partition_cols,
            )

    return _start_fold_stream(
        batches,
        checkpoint,
        _leased(index_path, "ann-ingest", _fold, DEFAULT_LEASE_TIMEOUT),
        available_now,
        processing_time,
    )


def start_ann_delete_stream(
    deletions: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    processing_time: str | None = None,
    schema_memo: dict | None = None,
) -> StreamingQuery:
    """The takedown twin of start_ann_ingest_stream: a stream of vec_ids
    to remove (right-to-be-forgotten requests arrive as a queue, not a
    batch job) folds into the materialized index via
    plans.similarity.ivf_index_delete — per micro-batch one column-pruned
    locate scan, partition-scoped rewrite of the touched cells, frozen
    centroids throughout.

    Deletion is idempotent BY CONSTRUCTION (re-deleting an absent id
    finds no victims and writes nothing), so foreachBatch retries and
    at-least-once delivery are safe without any skip_existing machinery.
    Same trigger contract as the ingest stream. The delete reads the
    served layout's partition key from the index itself, exactly as the
    batch delete does, so ONE takedown queue serves every materialized
    index shape."""
    from ..plans.similarity import ivf_index_delete

    # single-writer schema memo, same reasoning as start_ann_ingest_stream
    memo = {} if schema_memo is None else schema_memo

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # ONE count job doubles as the empty-batch gate (probe_empty=False
        # below) and the delete's broadcast upper bound (n_ids_hint) —
        # the isEmpty + bounded-probe pair it replaces was two driver
        # round-trips per trigger (guide §1.2; r13). Counting an ids-only
        # micro-batch is parquet-metadata-cheap for file sources.
        n = batch_df.count()
        if not n:
            return
        ivf_index_delete(
            batch_df.sparkSession,
            index_path,
            batch_df.select("vec_id"),
            schema_memo=memo,
            n_ids_hint=n,
        )

    return _start_fold_stream(
        deletions,
        checkpoint,
        _leased(
            index_path, "ann-delete", _fold, DEFAULT_LEASE_TIMEOUT,
            probe_empty=False,
        ),
        available_now,
        processing_time,
    )


def start_ann_apply_stream(
    commands: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every: int | None = None,
    schema_memo: dict | None = None,
) -> StreamingQuery:
    """ONE loop owns the index: a unified command log — rows
    ``(op, vec_id, embedding)`` with op ∈ {'add', 'del'} — folds adds,
    takedowns AND in-loop compaction through a single foreachBatch owner.
    This is the strongest answer to the concurrent-writers hazard: where
    separate ingest/takedown streams need the maintenance lease to
    serialize (they take it per fold), the command log removes the second
    writer entirely — ordering between an add and a takedown becomes the
    LOG's order, not a race. The fold still takes the lease so an
    out-of-band compact or migration can't interleave either.

    Per micro-batch, in order:
      1. the batch resolves to its PER-ID NET EFFECT in log order (see
         below) — the delete set and the surviving add per id,
      2. deletes fold via the generic partition-scoped delete
         (idempotent by construction),
      3. surviving adds fold via the frozen-centroid incremental add
         (``skip_existing=True`` — replay idempotent),
      4. every ``compact_every``-th trigger sweeps fragmented partitions.

    Within-batch ordering is the LOG's order, exactly as if the commands
    were applied one at a time: per id, any ``del`` removes it, and the
    surviving add is the FIRST ``add`` after the id's LAST ``del`` (the
    serial skip-existing semantics — a second add of a present id is a
    no-op). So add→del in one trigger lands deleted, del→re-add lands
    present with the re-added embedding (micro-batch boundaries are
    arbitrary under backlog, so a del and its re-add MAY share a
    trigger — the net-effect resolution is what keeps that equal to the
    serial outcome). Log order comes from a ``seq`` column when the
    command schema carries one (exact, recommended for multi-file
    triggers); otherwise it is synthesized from batch row order
    (file/row order for file sources — exact within a file). Deletes
    apply before the surviving adds so a re-added id is never
    skip-existing-skipped into keeping its pre-delete embedding; a
    replayed trigger re-runs the same delete-then-add fold, so
    at-least-once delivery is safe, and the checkpointed source
    guarantees a batch is never re-delivered AFTER later batches
    committed (which is what makes cross-batch add-then-delete stable
    under recovery).

    The add, the delete and the compaction sweep all take the layout
    from the index itself (plans.similarity.index_layout), so ONE
    command-log applier serves every materialized shape."""
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be a positive trigger count")

    import os

    from ..operators.compaction import compact_partitions
    from ..plans import similarity as S

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # single-writer schema memo, same reasoning as start_ann_ingest_stream
    memo = {} if schema_memo is None else schema_memo

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if "seq" not in batch_df.columns:
            # batch row order (partition-major = file order for file
            # sources); frozen by the checkpoint below so every read of
            # the batch sees the same ordering
            batch_df = batch_df.withColumn("seq", F.monotonically_increasing_id())
        # one materialization: the net-effect resolution reads the batch twice
        batch_df = batch_df.localCheckpoint(eager=True)
        # ONE fused aggregate over the checkpointed batch replaces the two
        # per-op isEmpty probes — each probe was its own driver round-trip
        # + stage schedule, and at replay scale the fold's SERIAL JOB
        # CHAIN is most of its cost (guide §1.2/§2.6; r13). The del count
        # doubles as the delete's broadcast upper bound (n_ids_hint).
        ops = batch_df.agg(
            F.count(F.when(F.col("op") == "del", True)).alias("nd"),
            F.count(F.when(F.col("op") == "add", True)).alias("na"),
        ).first()
        n_del, n_add = ops["nd"], ops["na"]
        if not n_del and not n_add:
            return  # empty batch — _leased skips its probe for this fold
        adds = batch_df.filter(batch_df["op"] == "add").select(
            "vec_id", "embedding", "seq"
        )
        if n_del:
            last_del = (
                batch_df.filter(batch_df["op"] == "del")
                .groupBy("vec_id")
                .agg(F.max("seq").alias("__last_del"))
            )
            # deletes first: a re-added id must not be skip_existing-
            # skipped into keeping its pre-delete embedding
            S.ivf_index_delete(
                spark, index_path, last_del.select("vec_id"),
                schema_memo=memo, n_ids_hint=n_del,
            )
            adds = (
                adds.join(F.broadcast(last_del), "vec_id", "left")
                .filter(
                    F.col("__last_del").isNull() | (F.col("seq") > F.col("__last_del"))
                )
                .drop("__last_del")
            )
        if n_add:
            # serial skip-existing semantics: the FIRST add per id (after
            # its last del) wins; later duplicates would have been
            # skipped anyway
            first = Window.partitionBy("vec_id").orderBy("seq")
            net_adds = (
                adds.withColumn("__rn", F.row_number().over(first))
                .filter(F.col("__rn") == 1)
                .select("vec_id", "embedding")
            )
            # net_adds can only be empty when in-batch deletes outlasted
            # every add — the one case that still needs its own probe
            if not n_del or not net_adds.isEmpty():
                S.ivf_index_incremental_add(
                    spark, index_path, net_adds, skip_existing=True,
                    schema_memo=memo,
                )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_partitions(
                spark,
                os.path.join(index_path, "vectors"),
                S.index_layout(spark, index_path, memo).partition_cols,
            )

    return _start_fold_stream(
        commands,
        checkpoint,
        _leased(
            index_path, "ann-apply", _fold, DEFAULT_LEASE_TIMEOUT,
            probe_empty=False,
        ),
        available_now,
        processing_time,
    )


def _start_fold_stream(
    batches: DataFrame,
    checkpoint: str,
    fold,
    available_now: bool,
    processing_time: str | None,
) -> StreamingQuery:
    """Shared trigger contract and plumbing of every ANN maintenance
    stream: ``available_now=True`` drains what exists and stops (the
    cron-shaped job); ``available_now=False`` requires ``processing_time``
    for a resident stream — both misuse combinations raise."""
    if available_now and processing_time is not None:
        raise ValueError(
            "available_now=True drains and stops — processing_time would be "
            "silently ignored; pass available_now=False for a resident stream"
        )
    if not available_now and processing_time is None:
        raise ValueError(
            "available_now=False requires processing_time — omitting it would "
            "run an unthrottled micro-batch loop"
        )
    writer = batches.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
