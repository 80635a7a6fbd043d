"""[EXT] Structured Streaming ingestion path (SURVEY.md §2.9).

The reference is purely batch; the engine adds an optional micro-batch
path over the ``events`` table: ``readStream`` → watermark → tumbling
window aggregation.  The same aggregation is exposed in batch form
(``hourly_rollup_batch``) so correctness is oracle-checkable; the streaming
variant runs the identical logical plan through the streaming engine with
`availableNow` (bounded backfill, the production pattern for catch-up runs).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_feed(spark: SparkSession, path: str) -> DataFrame:
    """Static read of a parquet feed under the session pins every feed
    needs: ``nanosAsLong`` so the driver parquet's TIMESTAMP(NANOS) ``ts``
    reads at all, and UTC so the NTZ cast and window/watermark/``to_date``
    epoch alignment are host-zone-independent (see sources/registry.py)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def events_stream(
    spark: SparkSession, events_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The ONE parquet file-stream reader: static-schema ``readStream``
    (file streams need an explicit schema), single-file paths handled via
    a parent-dir glob, an optional ``maxFilesPerTrigger`` read limit
    (availableNow honors it, splitting a backfill into several
    micro-batches), and — when the feed has a ``ts`` — the driver
    parquet's ``ts`` wrinkle normalized to a plain TIMESTAMP:
    TIMESTAMP(NANOS) rebuilt with INTEGER division (nanos epochs exceed
    2^53) and TIMESTAMP_NTZ cast (watermarks refuse NTZ; see
    sources/registry.py).  Every streaming runner in this package goes
    through here; the recipe is subtle enough that hand-copies drifted."""
    from pyspark.sql import types as T

    static = read_feed(spark, events_path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        stream = reader.parquet(os.path.dirname(events_path))
    else:
        stream = reader.parquet(events_path)
    if "ts" not in static.columns:
        return stream
    ts_type = static.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Explicit LTZ type — the "timestamp" alias resolves through
        # spark.sql.timestampType and no-ops under an NTZ-default session.
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


def run_to_memory(out: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Execute a bounded streaming plan (availableNow) into a memory sink
    and return the materialized table — the verification-run shape; a
    live deployment keeps the same plan and swaps the sink."""
    spark = out.sparkSession
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _rollup(events: DataFrame, streaming: bool) -> DataFrame:
    e = events
    if streaming:
        # 2h watermark: late events beyond it are dropped from open windows.
        e = e.withWatermark("ts", "2 hours")
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return agg.select(
        F.col("win.start").cast("string").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def hourly_rollup_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming rollup (oracle-checkable)."""
    return _rollup(events, streaming=False)


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the in-user gap
    exceeds ``gap_seconds``.  LAG flags session starts, a running SUM
    assigns ids — one shuffle on the user key, both window passes share it.

    This is the batch twin of a session-window stateful stream
    (``applyInPandasWithState`` / ``session_window`` would be the streaming
    forms); epoch seconds are truncated (cast) so engines agree on
    boundaries.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    ts_s = F.col(ts_col).cast("long")
    flag = F.when(
        F.lag(ts_s).over(w).isNull() | (ts_s - F.lag(ts_s).over(w) > gap_seconds), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("session_id", F.sum(flag).over(run))


def run_streaming_rollup(spark: SparkSession, events_path: str) -> DataFrame:
    """Run the rollup through Structured Streaming with Trigger.AvailableNow
    and return the materialized result.

    Uses a memory sink in complete mode — fine for a bounded verification
    run; production would `writeStream.format("delta").outputMode("append")`
    with the watermark bounding state.
    """
    out = _rollup(events_stream(spark, events_path), streaming=True)
    return run_to_memory(out, "events_hourly_rollup_stream", "complete")
