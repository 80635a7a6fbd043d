"""Structured Streaming path: the availableNow micro-batch run must agree
with the batch twin of the same rollup."""

from __future__ import annotations

import pytest

from aspep_etl_spark.sources.registry import load_table
from aspep_etl_spark.streaming import hourly_rollup_batch, run_streaming_rollup, sessionize


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from aspep_etl_spark.streaming.stateful import run_streaming_sessionize

    batch = (
        sessionize(load_table(spark, sf_dir, "events"), gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.col("ts").cast("string")).alias("session_start"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    b = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_start"], r["total_value"])
        for r in batch.collect()
    }
    s = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_start"], r["total_value"])
        for r in run_streaming_sessionize(spark, f"{sf_dir}/events.parquet").collect()
    }
    assert b == s
    assert len(b) > 50


def test_stateful_sessionize_across_micro_batches(spark, sf_dir, tmp_path):
    """Split the events into two time-ordered files and force one file per
    micro-batch: sessions spanning the batch boundary are emitted as partial
    rows sharing (user_id, session_id) — re-aggregating them must reproduce
    the batch answer exactly (state carries counter + last session end)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from aspep_etl_spark.streaming.stateful import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _session_fn,
    )

    events = load_table(spark, sf_dir, "events")
    cutoff = events.selectExpr("percentile(cast(ts as double), 0.5)").first()[0]
    src = str(tmp_path / "events_src")
    # two time-ordered files; write early half first (file source orders by
    # modification time)
    events.filter(F.col("ts").cast("double") <= cutoff).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    import glob
    import time

    time.sleep(1.1)  # distinct mtimes so maxFilesPerTrigger honors order
    events.filter(F.col("ts").cast("double") > cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _session_fn(1800),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    import tempfile

    name = "sessionize_two_batches"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    merged = (
        spark.table(name)
        .groupBy("user_id", "session_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("session_start").alias("session_start"),
            F.round(F.sum("total_value"), 2).alias("total_value"),
        )
    )
    s = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_start"], r["total_value"])
        for r in merged.collect()
    }
    batch = (
        sessionize(events, gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.col("ts").cast("string")).alias("session_start"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    b = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_start"], r["total_value"])
        for r in batch.collect()
    }
    assert b == s


def test_streaming_rollup_matches_batch(spark, sf_dir):
    batch = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in hourly_rollup_batch(load_table(spark, sf_dir, "events")).collect()
    }
    stream = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in run_streaming_rollup(spark, f"{sf_dir}/events.parquet").collect()
    }
    assert batch == stream
    assert len(batch) > 100


def test_streaming_debounce_matches_batch_keyset(spark, sf_dir):
    """dropDuplicatesWithinWatermark keeps an arrival-order-dependent
    survivor, so equality with the batch twin is on the DEDUP KEY SET and
    cardinality — exactly one surviving event per debounce key."""
    from aspep_etl_spark.sources.registry import load_table
    from aspep_etl_spark.streaming.dedup import debounce_batch, run_streaming_debounce

    batch = debounce_batch(load_table(spark, sf_dir, "events"))
    b_keys = {
        (r["user_id"], r["event_type"], r["minute"]) for r in batch.collect()
    }
    stream = run_streaming_debounce(spark, f"{sf_dir}/events.parquet").collect()
    s_keys = {(r["user_id"], r["event_type"], r["minute"]) for r in stream}
    assert s_keys == b_keys
    assert len(stream) == len(s_keys)  # exactly one survivor per key
    assert len(b_keys) >= 1000


def test_watermark_drops_late_events_across_batches(spark, tmp_path):
    """The watermark must actually EVICT state and DROP late rows — batch
    equality on a single availableNow batch never exercises that.

    Semantics pinned here (empirically verified): a late row arriving in
    the SAME micro-batch where its window is finalized still merges;
    dropping happens once the window\'s state has been evicted.  So the
    scenario needs three files: (1) data advancing the watermark past the
    07:00 window, (2) an innocuous batch during which that window is
    finalized and emitted, (3) a genuinely late 07:20 event — which must
    NOT appear anywhere — plus an in-watermark 11:30 event that must."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    sch = "event_id long, ts string, user_id long, event_type string, value double, props string"
    ts = lambda s: f"2024-01-01 {s}"  # noqa: E731

    def mk(rows):
        return spark.createDataFrame(rows, sch).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    mk(
        [
            (1, ts("07:10:00"), 1, "click", 1.0, None),
            (2, ts("07:40:00"), 1, "click", 1.0, None),
            (3, ts("12:00:00"), 2, "click", 1.0, None),  # watermark → 10:00
        ]
    ).coalesce(1).write.parquet(src, mode="overwrite")
    time.sleep(1.2)
    # batch 2: 07:00 window finalizes (emitted with count 2, state evicted)
    mk([(9, ts("12:30:00"), 2, "click", 1.0, None)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.2)
    mk(
        [
            (4, ts("07:20:00"), 3, "click", 1.0, None),  # LATE → dropped
            (5, ts("11:30:00"), 3, "click", 1.0, None),  # within watermark → kept
            (6, ts("23:00:00"), 3, "click", 1.0, None),  # closes remaining windows
        ]
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(mk([]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").cast("string").alias("h"), "n")
    )
    import tempfile

    name = "late_drop_rollup"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")  # append emits only watermark-closed windows
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {r["h"]: r["n"] for r in spark.table(name).collect()}
    assert got == {
        ts("07:00:00"): 2,  # late event 4 NOT here — dropped after eviction
        ts("11:00:00"): 1,  # the in-watermark batch-3 event
        ts("12:00:00"): 2,  # 12:00 + 12:30
        # 23:00 window never closes → never emitted in append mode
    }


def test_stream_static_enrichment_matches_batch_join(spark, sf_dir, tmp_path):
    """Stream-static dimension enrichment: the availableNow streamed join
    against a static dim must agree with the plain batch join, and the
    static side must ride as a broadcast (the stream side never shuffles
    for the join)."""
    import tempfile

    from pyspark.sql import functions as F

    from aspep_etl_spark.sources.registry import load_table
    from aspep_etl_spark.streaming.enrich import enrich_with_dim

    events = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("view", "engagement")],
        "event_type string, event_class string",
    )
    batch = {
        (r["event_class"] or "∅", r["n"])
        for r in enrich_with_dim(events, dim, "event_type")
        .groupBy("event_class")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    src = str(tmp_path / "enrich_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = (
        enrich_with_dim(stream, dim, "event_type")
        .groupBy("event_class")
        .agg(F.count("*").alias("n"))
    )
    name = "enrich_stream_t"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    streamed = {
        (r["event_class"] or "∅", r["n"]) for r in spark.table(name).collect()
    }
    assert streamed == batch and len(batch) >= 2
    # plan pin on the batch twin: dim join must be broadcast
    plan = enrich_with_dim(events, dim, "event_type")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_foreachbatch_upsert_sink_multi_batch_and_replay(spark, tmp_path):
    """The foreachBatch CDC sink must (1) equal a one-shot batch
    upsert_latest after a multi-micro-batch backfill and (2) be a no-op
    when the same feed is replayed with a fresh checkpoint (duplicate
    delivery — latest-wins merges are idempotent)."""
    from aspep_etl_spark.operators.setops import upsert_latest
    from aspep_etl_spark.streaming.enrich import run_stream_upsert

    sch = "k long, v string, ver long"
    base = spark.createDataFrame(
        [(1, "a0", 0), (2, "b0", 0), (3, "c0", 0)], sch
    )
    store = str(tmp_path / "store")
    base.write.parquet(store)

    updates = spark.createDataFrame(
        [(1, "a1", 1), (2, "b1", 1), (1, "a2", 2), (4, "d2", 2)], sch
    )
    upd_dir = str(tmp_path / "updates")
    # several files → several micro-batches under maxFilesPerTrigger=1
    updates.repartition(3).write.parquet(upd_dir)

    run_stream_upsert(
        spark, upd_dir, store, keys=["k"], order_col="ver",
        tiebreak_cols=["v"], checkpoint_dir=str(tmp_path / "ck1"),
        max_files_per_trigger=1,
    )
    got = {(r["k"], r["v"], r["ver"]) for r in spark.read.parquet(store).collect()}
    expect = {
        (r["k"], r["v"], r["ver"])
        for r in upsert_latest(base, updates, ["k"], "ver", ["v"]).collect()
    }
    assert got == expect
    assert (1, "a2", 2) in got and (3, "c0", 0) in got and (4, "d2", 2) in got

    # replay the same feed with a new checkpoint: store must not change
    run_stream_upsert(
        spark, upd_dir, store, keys=["k"], order_col="ver",
        tiebreak_cols=["v"], checkpoint_dir=str(tmp_path / "ck2"),
        max_files_per_trigger=1,
    )
    again = {(r["k"], r["v"], r["ver"]) for r in spark.read.parquet(store).collect()}
    assert again == got


def test_stream_stream_attribution_matches_batch(spark, sf_dir):
    """Genuine stream-stream join (both sides watermarked, time-range
    predicate bounding state): the availableNow run must emit exactly the
    batch pair set."""
    from pyspark.sql import functions as F

    from aspep_etl_spark.sources.registry import load_table
    from aspep_etl_spark.streaming.attribution import (
        attribution_pairs,
        run_streaming_attribution,
    )

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    batch = {
        (r["purchase_id"], r["user_id"], r["purchase_ts"], r["click_id"])
        for r in attribution_pairs(clicks, purchases, 7200)
        .select(
            "purchase_id", "user_id",
            F.col("purchase_ts").cast("string").alias("purchase_ts"), "click_id",
        )
        .collect()
    }
    streamed = {
        (r["purchase_id"], r["user_id"], r["purchase_ts"], r["click_id"])
        for r in run_streaming_attribution(
            spark, f"{sf_dir}/events.parquet", 7200
        ).collect()
    }
    assert streamed == batch
    assert len(batch) >= 5  # sf0.001: 9 in-horizon pairs


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """Sketch maintenance across micro-batches must be EXACTLY the batch
    sketch (union+sum is the algebraic merge), and re-running with the
    same checkpoint must be a no-op (exactly-once via checkpoint, since
    counter merges — unlike latest-wins upserts — are not idempotent
    under duplicate delivery)."""
    from aspep_etl_spark.operators.sketch import cms_build
    from aspep_etl_spark.streaming.sketches import run_streaming_cms

    ev = spark.createDataFrame(
        [(i, i % 17) for i in range(500)], "event_id long, user_id long"
    )
    feed = str(tmp_path / "feed")
    ev.repartition(3).write.parquet(feed)  # 3 files -> 3 micro-batches
    store = str(tmp_path / "cms_store")

    run_streaming_cms(
        spark, feed, store, "user_id", str(tmp_path / "ck"),
        depth=4, width=64, max_files_per_trigger=1,
    )
    got = spark.read.parquet(store)
    want = cms_build(ev, "user_id", 4, 64)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # same checkpoint, no new files: counters must not move
    run_streaming_cms(
        spark, feed, store, "user_id", str(tmp_path / "ck"),
        depth=4, width=64, max_files_per_trigger=1,
    )
    again = spark.read.parquet(store)
    assert again.exceptAll(want).count() == 0
    assert want.exceptAll(again).count() == 0

    # FRESH checkpoint replaying the same feed = duplicate delivery of
    # every micro-batch; the store's _merged_batches marker must make the
    # non-idempotent counter merge skip them all (counters unchanged, not
    # doubled)
    run_streaming_cms(
        spark, feed, store, "user_id", str(tmp_path / "ck2"),
        depth=4, width=64, max_files_per_trigger=1,
    )
    replayed = spark.read.parquet(store)
    assert replayed.exceptAll(want).count() == 0
    assert want.exceptAll(replayed).count() == 0


@pytest.mark.parametrize("runner", ["upsert", "cms", "mv"])
def test_store_survives_crash_at_swap(spark, tmp_path, monkeypatch, runner):
    """A crash inside a store swap (the second staging -> store rename
    raises once) must lose no earlier batch: re-run with the same
    checkpoint, the interrupted batch is redelivered and the store equals
    the one-shot batch result."""
    import datetime
    import os

    from pyspark.errors import StreamingQueryException

    feed, store, ck = (str(tmp_path / n) for n in ("feed", "store", "ck"))
    if runner == "upsert":
        from aspep_etl_spark.operators.setops import upsert_latest
        from aspep_etl_spark.streaming.enrich import run_stream_upsert

        sch = "k long, v string, ver long"
        base = spark.createDataFrame([(1, "a0", 0), (2, "b0", 0), (3, "c0", 0)], sch)
        base.write.parquet(store)
        updates = spark.createDataFrame(
            [(1, "a1", 1), (2, "b1", 1), (1, "a2", 2), (4, "d2", 2)], sch
        )
        updates.repartition(3).write.parquet(feed)
        want = upsert_latest(base, updates, ["k"], "ver", ["v"])

        def run():
            run_stream_upsert(spark, feed, store, ["k"], "ver", ck, ["v"], 1)

    elif runner == "cms":
        from aspep_etl_spark.operators.sketch import cms_build
        from aspep_etl_spark.streaming.sketches import run_streaming_cms

        ev = spark.createDataFrame(
            [(i, i % 17) for i in range(500)], "event_id long, user_id long"
        )
        ev.repartition(3).write.parquet(feed)
        want = cms_build(ev, "user_id", 4, 64)

        def run():
            run_streaming_cms(spark, feed, store, "user_id", ck, 4, 64, 1)

    else:
        from aspep_etl_spark.streaming.events import events_stream
        from aspep_etl_spark.streaming.mv import mv_delta_agg, mv_store_merge
        from aspep_etl_spark.streaming.store import merge_stream_into_store

        ev = spark.createDataFrame(
            [
                (datetime.datetime(2024, 1, 1 + i % 5, i % 24), "ab"[i % 2], i * 0.25, i)
                for i in range(60)
            ],
            "ts timestamp, event_type string, value double, event_id long",
        )
        ev.repartition(3).write.parquet(feed)
        want = mv_delta_agg(ev)

        def run():
            merge_stream_into_store(events_stream(spark, feed, 1), store, ck, mv_store_merge)

    real_replace, swaps = os.replace, []

    def replace(src, dst):
        if str(src).endswith("__staging"):
            swaps.append(src)
            if len(swaps) == 2:
                raise OSError("injected crash inside the store swap")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(StreamingQueryException):
        run()
    run()
    got = spark.read.parquet(store)
    want = want.select(*got.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_work_dirs_live_under_spark_root(spark, sf_dir):
    """The MV maintenance and the streaming CMS query keep their work dirs
    under ``SparkFiles.getRootDirectory()``: the returned frames read
    their stores lazily, and Spark deletes that root at ``spark.stop()``,
    so no call leaves a temp dir behind."""
    from urllib.parse import urlparse

    from pyspark import SparkFiles

    from aspep_etl_spark.plans.analytics_extra import streaming_cms_heavy_hitters
    from aspep_etl_spark.streaming.mv import run_streaming_mv_maintenance

    root = SparkFiles.getRootDirectory() + "/"
    mv = run_streaming_mv_maintenance(spark, f"{sf_dir}/events.parquet", n_splits=2)
    mv_files = [urlparse(f).path for f in mv.inputFiles()]
    assert mv_files and all(f.startswith(root) for f in mv_files), mv_files
    # the CMS query also reads the events table itself; every other input
    # is its sketch store
    cms = streaming_cms_heavy_hitters(spark, sf_dir)
    cms_files = [urlparse(f).path for f in cms.inputFiles()]
    store_files = [f for f in cms_files if not f.startswith(sf_dir)]
    assert store_files and all(f.startswith(root) for f in store_files), store_files
