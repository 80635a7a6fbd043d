"""[EXT] Streaming materialized-view maintenance — the end-to-end
streaming twin of ``plans/analytics_r6b.events_mv_incremental``: a
``foreachBatch`` loop that maintains the daily (day, event_type) rollup
MV by aggregating ONLY each micro-batch's delta and merging it into the
keyed store with a full-outer coalesce-sum — the refresh is O(delta)
per batch, never a history re-aggregation.

Two properties the batch variant cannot demonstrate:

- **Multi-batch accumulation**: the input is split into several files
  and streamed with ``maxFilesPerTrigger=1``, so the store provably
  reaches the full-recompute fixpoint through REPEATED merges (the
  merge algebra is associative-commutative integer sums, so batch
  arrival order is irrelevant — which is also why the oracle can be the
  one flat GROUP BY).
- **Replay idempotence**: sum-merges are NOT naturally idempotent under
  checkpoint-recovery redelivery (unlike latest-wins CDC); the store
  runner (``store.merge_stream_into_store``) skips redelivered batch ids.

No reference counterpart (batch-only pipeline).
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import events_stream, read_feed
from .store import merge_stream_into_store

MV_KEYS = ["day", "event_type"]


def mv_delta_agg(events: DataFrame) -> DataFrame:
    """The per-batch delta rollup — identical metric definition to the
    batch MV (integer cents keep every merge associativity-exact)."""
    return (
        events.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.round(F.col("value") * F.lit(100)).cast("long").alias("cents"),
        )
        .groupBy(*MV_KEYS)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
    )


def mv_merge(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Full-outer coalesce-sum merge of two MV states (one keyed join,
    no history re-aggregation)."""
    b = base.withColumnRenamed("n_events", "bn").withColumnRenamed(
        "cents_sum", "bs"
    )
    d = delta.withColumnRenamed("n_events", "dn").withColumnRenamed(
        "cents_sum", "ds"
    )
    m = b.join(d, MV_KEYS, "full_outer")
    return m.select(
        *MV_KEYS,
        (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n_events"),
        (F.coalesce(F.col("bs"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
        .cast("long")
        .alias("cents_sum"),
    )


def mv_store_merge(base: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The MV store's per-batch merge: the micro-batch's delta rollup,
    merged into the stored state (or the first state)."""
    delta = mv_delta_agg(batch)
    return delta if base is None else mv_merge(base, delta)


def run_streaming_mv_maintenance(
    spark: SparkSession, events_path: str, n_splits: int = 3
) -> DataFrame:
    """Maintain the daily rollup MV through Structured Streaming and
    return the final store.

    The one input file is re-sharded into ``n_splits`` files so
    ``maxFilesPerTrigger=1`` yields that many real micro-batches; each
    one's delta is merged into the parquet store by
    ``store.merge_stream_into_store``. The work dir is a fresh ``mkdtemp``
    per call under the SparkContext's root dir: the returned frame still
    reads the store, so it must outlive the call, and Spark deletes it at
    ``spark.stop()`` (a real deployment points at durable paths)."""
    work = tempfile.mkdtemp(prefix="mv_stream_", dir=SparkFiles.getRootDirectory())
    shards = os.path.join(work, "shards")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    # re-shard in ONE pass: the repartition writes ~n_splits part files
    # from a single scan (the per-residue filter loop scanned the input
    # n_splits times — at 30 splits that setup dominated the probe).
    # Exactly-once row coverage is what the merge algebra needs; the
    # maintained MV is split-invariant (its oracle is the flat recompute).
    # round-robin repartition (no key): hash partitioning on event_id can
    # leave empty partitions on small/skewed inputs, silently writing
    # fewer than n_splits shard files and weakening the many-batch
    # probe's batch count; round-robin fills every partition whenever
    # rows ≥ n_splits, and the assert pins the batch count mechanically
    # (MV correctness is split-invariant either way)
    raw = read_feed(spark, events_path)
    n_rows = raw.count()
    if n_rows < n_splits:
        # Fewer rows than splits: RoundRobinPartitioning starts each
        # UPSTREAM partition at a Random(partitionIndex) offset, so rows
        # from different input partitions can collide on one target and
        # write fewer than n_rows shard files.  Coalescing to a single
        # upstream partition first makes the sequential round-robin
        # guarantee real — one row per shard.  The sortWithinPartitions
        # FENCES the coalesce: without it Catalyst's CollapseRepartition
        # folds Coalesce(1) into the adjacent repartition(n_splits) and
        # the multi-upstream collision case comes right back (verified
        # in the plan: the Sort keeps `Coalesce 1` as a physical node).
        # Only taken on tiny inputs, where one partition costs nothing.
        raw = raw.coalesce(1).sortWithinPartitions("event_id")
    raw.repartition(n_splits).write.parquet(shards)
    n_files = len([f for f in os.listdir(shards) if f.endswith(".parquet")])
    # round-robin leaves empty partitions (which write no file) only when
    # the input has fewer rows than n_splits — clamp the pinned count so
    # tiny inputs degrade gracefully to fewer micro-batches instead of
    # crashing the probe
    expected = min(n_rows, n_splits)
    if n_rows < n_splits:
        # FileFormatWriter still emits ONE empty schema file when write
        # partition 0 gets no rows (sequential round-robin starts at a
        # seeded offset, so partition 0 is often empty on tiny inputs);
        # an empty parquet shard is a no-op micro-batch, so tolerate
        # exactly that one extra file — never fewer than n_rows.
        assert expected <= n_files <= expected + 1, (
            f"shard count {n_files} outside [{expected}, {expected + 1}] "
            f"(n_splits={n_splits}, rows={n_rows}): tiny-input sharding "
            f"lost rows or over-split"
        )
    else:
        assert n_files == expected, (
            f"shard count {n_files} != expected {expected} "
            f"(n_splits={n_splits}, rows={n_rows}): the streaming "
            f"probe's micro-batch count would silently shrink"
        )

    merge_stream_into_store(events_stream(spark, shards, 1), store, ckpt, mv_store_merge)
    return spark.read.parquet(store).select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n_events",
        "cents_sum",
    )
