"""id→partition lookup table beside a materialized vector index.

ivf_index_delete's LOCATE step is the one whole-index read in the deletion
path: given takedown vec_ids, it scans the index (key columns only) to
find which partitions hold victims. At true scale even that column-pruned
scan is avoidable — the assignment IS a lookup table, so materializing it
keyed BY VEC ID makes locate a partition-pruned point read. This module
maintains that table, for EVERY served layout: the lookup row carries the
layout's full partition key tuple — ``("centroid_id",)`` for flat
IVF/IVFPQ, ``("coarse_id", "centroid_id")`` for the two-level layout,
``("centroid_id", "sub_id")`` for the split layout — so the nested
layouts get the same zero-index-read takedown as the flat one. Each op
reads that key from the index directory itself
(plans.similarity.index_layout — a Hadoop-FS listing, no Spark job).

- ``build_lookup``: one column-pruned scan of ``vectors/`` writes
  ``lookup/`` as (vec_id, *partition_cols) partitioned by
  ``pmod(xxhash64(vec_id), N_LOOKUP_BUCKETS)`` — the partitioned_state
  bucket recipe, so a locate for a batch of ids prunes to the buckets the
  ids hash into.
- ``locate``: ids → their partition keys, reading ONLY the ids' hash
  buckets (planning-time pruning on the bucket column; asserted in
  tests/test_ann_lookup.py). The id frame is materialized once
  (changeset-sized by contract) and broadcast only when a bounded
  limit+count probe proves it small — takedown queues feed this
  unbounded batches, and an oversized forced broadcast is a driver OOM
  (the same probe discipline as ivf_index_delete).
- ``refresh_lookup_buckets``: after an add/delete touched the index,
  re-derive ONLY the buckets the changed ids hash into — maintenance
  cost tracks the changeset like every other partition-scoped op here.

Deliberately layered BESIDE ivf_index_delete rather than into it: the
delete's correctness contract (and its driver-checked keys) stay
scan-based and self-contained; a deployment that maintains the lookup
passes ``locate()``'s result as the touched-partition list (driver keys
``ann_index_delete_lookup`` / ``ann_ivf2_index_delete_lookup`` hash the
post-delete lookup against the assignment-minus-deleted oracle). Cited
parity: the reference has no vector surface (SURVEY §2.11 is additive
scope).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsutil

#: Bucket count for the lookup layout: enough that a batch of takedown ids
#: touches a small fraction of buckets, few enough that tiny corpora don't
#: fragment into empty directories.
N_LOOKUP_BUCKETS = 32

#: Largest id batch locate() will broadcast — same budget and rationale as
#: plans/similarity.DELETE_BROADCAST_MAX_IDS (1M bigint ids ≈ 8 MB payload,
#: tens of MB hashed). Bigger batches shuffle-join against the pruned
#: buckets, which is the right plan for them anyway.
LOOKUP_BROADCAST_MAX_IDS = 1_000_000


def _bucket_col():
    # built lazily: constructing a Column at import time requires an
    # active SparkContext, which test collection does not have
    return F.pmod(F.xxhash64(F.col("vec_id")), F.lit(N_LOOKUP_BUCKETS)).alias("bucket")


def _partition_cols(spark: SparkSession, index_path: str) -> tuple[str, ...]:
    from ..plans.similarity import index_layout

    return index_layout(spark, index_path, None).partition_cols


def _key_cols(partition_cols: tuple[str, ...]) -> list:
    return [F.col(c).cast("bigint").alias(c) for c in partition_cols]


def _vectors_key_schema(partition_cols: tuple[str, ...]) -> str:
    """Explicit subset schema for the column-pruned vectors scan: vec_id
    plus the layout's partition key columns — a user-specified schema
    both skips the footer-inference job AND acts as the projection, so
    the embedding (and codes) columns are never in the read schema at
    all. Partition columns are declared BIGINT outright (the directory
    names cast exactly; _key_cols' cast then no-ops), which is safe by
    the same bound as similarity.LAYOUT_SCHEMAS: partition ids are
    bounded by the broadcast ceiling."""
    return "vec_id BIGINT, " + ", ".join(f"{c} BIGINT" for c in partition_cols)


def build_lookup(spark: SparkSession, index_path: str) -> str:
    """Derive ``lookup/`` from the index's vectors table (one column-pruned
    scan — vec_id + the layout's partition key columns, never embeddings).
    The rows carry the layout's full partition key, so the lookup can
    drive a zero-index-read delete on nested layouts too."""
    partition_cols = _partition_cols(spark, index_path)
    lookup_dir = os.path.join(index_path, "lookup")
    (
        spark.read.schema(_vectors_key_schema(partition_cols))
        .parquet(os.path.join(index_path, "vectors"))
        .select("vec_id", *_key_cols(partition_cols))
        .withColumn("bucket", _bucket_col())
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(lookup_dir)
    )
    return lookup_dir


def locate(spark: SparkSession, index_path: str, ids: DataFrame) -> DataFrame:
    """(vec_id, *partition_cols) for the given ids — reads only the ids'
    hash buckets. The distinct-bucket collect is bounded by design
    (≤ N_LOOKUP_BUCKETS values); the ids themselves join distributed,
    broadcast only when the bounded probe proves the batch small."""
    from ..plans.similarity import LAYOUT_SCHEMAS, index_layout

    layout = index_layout(spark, index_path, None)
    partition_cols = layout.partition_cols
    # one materialization serves the probe, the bucket projection and the
    # semi-join — without it an expensive ids lineage is re-evaluated
    # three times per call (and per micro-batch in a takedown stream)
    ids = ids.select("vec_id").localCheckpoint(eager=True)
    buckets = sorted(
        r["b"]
        for r in ids.select(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(N_LOOKUP_BUCKETS)).alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        return spark.createDataFrame(
            [], "vec_id bigint, " + ", ".join(f"{c} bigint" for c in partition_cols)
        )
    if ids.limit(LOOKUP_BROADCAST_MAX_IDS + 1).count() <= LOOKUP_BROADCAST_MAX_IDS:
        ids = F.broadcast(ids)
    lk = (
        spark.read.schema(LAYOUT_SCHEMAS[layout.lookup])
        .parquet(os.path.join(index_path, "lookup"))
        .filter(F.col("bucket").isin(buckets))
    )
    return lk.join(ids, "vec_id", "left_semi").select("vec_id", *partition_cols)


def compact_lookup(spark: SparkSession, index_path: str) -> list[dict]:
    """Consolidate small files the bucket refreshes accumulate — the
    lookup is rewritten bucket-wise on every add/delete, so a streaming
    deployment fragments it exactly like the vectors table. Same shared
    compaction op, keyed on the lookup's bucket column."""
    from .compaction import compact_partitions

    return compact_partitions(
        spark, os.path.join(index_path, "lookup"), ("bucket",)
    )


def refresh_lookup_buckets(
    spark: SparkSession, index_path: str, changed_ids: DataFrame
) -> list[int]:
    """Re-derive ONLY the lookup buckets the changed ids hash into, from
    the current vectors table (dynamic partition overwrite — untouched
    buckets stay byte-identical, tested). Correct for adds, deletes, and
    re-assignments alike because each bucket is rebuilt wholesale from
    the index's current truth. Returns the refreshed bucket ids."""
    buckets = sorted(
        r["b"]
        for r in changed_ids.select(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(N_LOOKUP_BUCKETS)).alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        return []
    partition_cols = _partition_cols(spark, index_path)
    fresh = (
        spark.read.schema(_vectors_key_schema(partition_cols))
        .parquet(os.path.join(index_path, "vectors"))
        .select("vec_id", *_key_cols(partition_cols))
        .withColumn("bucket", _bucket_col())
        .filter(F.col("bucket").isin(buckets))
        .localCheckpoint(eager=True)
    )
    lookup_dir = os.path.join(index_path, "lookup")
    fresh_buckets = {
        r["bucket"] for r in fresh.select("bucket").distinct().collect()
    }
    fresh.filter(F.col("bucket").isin(sorted(fresh_buckets))).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("bucket").parquet(
        lookup_dir
    )
    for b in buckets:
        if b in fresh_buckets:
            continue
        # every id in this bucket left the index — sweep the dead directory
        # through the Hadoop FS API (the lookup lives beside the index,
        # wherever index_path points: HDFS/S3A/file:)
        fsutil.delete_dir(spark, f"{lookup_dir}/bucket={b}", if_exists=True)
    return buckets
