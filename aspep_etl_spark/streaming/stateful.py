"""[EXT] Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (SURVEY.md §2.9 — the engine's
custom-stateful-operator surface; the reference has no streaming at all).

The state function carries (session_counter, last_session_end) per user
across micro-batches.  Output contract: sessions are emitted at each
batch end as rows keyed by (user_id, session_id); a session spanning a
micro-batch boundary is emitted as MULTIPLE partial rows sharing its
session_id (the state's last_end decides continuation vs new session, the
counter only increments on new sessions).  Downstream consumers aggregate
by (user_id, session_id) — sum(n_events), min(session_start),
sum(total_value) — which reproduces the batch ``sessionize`` answer
exactly; pinned by tests for both the single-batch (availableNow, one
file) and the two-micro-batch (maxFilesPerTrigger=1) cases.
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_counter", T.LongType()),
        T.StructField("last_end_epoch", T.LongType()),
    ]
)


def _ts_str(t) -> str:
    """Match Spark's timestamp→string cast: trailing fractional zeros
    trimmed (pandas str() keeps all six microsecond digits)."""
    s = str(t)
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s


def _ordered_events(pdf_iter):
    """One key's rows in event-time order (ts, event_id), plus their
    epoch seconds."""
    events = pd.concat(list(pdf_iter), ignore_index=True)
    events = events.sort_values(["ts", "event_id"])
    # normalize to ns first: pandas may hand back datetime64[us]
    return events, events["ts"].astype("datetime64[ns]").astype("int64") // 10**9


def _session_fn(gap_seconds: int):
    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        counter, last_end = state.get if state.exists else (0, None)
        events, ts_s = _ordered_events(pdf_iter)

        out = []
        cur = None  # the open session's output row
        for t, tstr, v in zip(ts_s, events["ts"], events["value"]):
            if last_end is None or t - last_end > gap_seconds:
                if cur is not None:  # the gap closes the open session
                    out.append(cur)
                    cur = None
                counter += 1
            if cur is None:  # a new session, or the previous batch's one
                cur = {
                    "user_id": user_id,
                    "session_id": counter,
                    "n_events": 0,
                    "session_start": _ts_str(tstr),
                    "total_value": 0.0,
                }
            cur["n_events"] += 1
            cur["total_value"] = round(cur["total_value"] + v, 2)
            last_end = t
        if cur is not None:
            out.append(cur)  # bounded-run semantics: end of input closes it
        state.update((int(counter), int(last_end) if last_end is not None else None))
        yield pd.DataFrame(out, columns=[f.name for f in OUTPUT_SCHEMA.fields])

    return fn


def run_streaming_sessionize(
    spark: SparkSession, events_path: str, gap_seconds: int = 1800
) -> DataFrame:
    """Stateful sessionization over a bounded stream (availableNow)."""
    from .events import events_stream, run_to_memory

    sessions = events_stream(spark, events_path).groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_seconds),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(sessions, "events_sessionize_stream", "append")


# ---------------------------------------------------------------------------
# Per-key rate limiting (quota enforcement)
# ---------------------------------------------------------------------------

RATE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("slot_s", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("slot_rank", T.LongType()),
    ]
)
# state: admitted count for the most recent slot seen per user
RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("slot_s", T.LongType()),
        T.StructField("admitted", T.LongType()),
    ]
)


def _rate_limit_fn(limit: int, slot_seconds: int):
    """Admit at most ``limit`` events per (user, time slot).  Within a
    batch, admission order is EVENT-TIME order (ts, event_id) — the
    deterministic batch-twin contract; across batches it is arrival
    order with the per-slot admitted count carried in state (the only
    feasible streaming semantics — a later batch cannot un-admit).
    State is one (slot, count) pair per user: slots arrive in watermark
    order, so older slots can never readmit — O(1) state per key, the
    bounded-state story that makes the quota enforceable at any rate."""

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        cur_slot, admitted = state.get if state.exists else (None, 0)
        events, ts_s = _ordered_events(pdf_iter)

        out = []
        for t, eid in zip(ts_s, events["event_id"]):
            slot = (int(t) // slot_seconds) * slot_seconds
            if slot != cur_slot:
                cur_slot, admitted = slot, 0
            if admitted < limit:
                admitted += 1
                out.append(
                    {
                        "user_id": user_id,
                        "slot_s": slot,
                        "event_id": int(eid),
                        "slot_rank": admitted,
                    }
                )
        state.update(
            (
                int(cur_slot) if cur_slot is not None else None,
                int(admitted),
            )
        )
        yield pd.DataFrame(out, columns=[f.name for f in RATE_OUTPUT_SCHEMA.fields])

    return fn


def rate_limit_batch(
    events, limit: int = 3, slot_seconds: int = 3600
):
    """Batch twin: the first ``limit`` events per (user, slot) in event-
    time order — row_number ≤ limit over the slot window."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "slot_s").orderBy("ts", "event_id")
    return (
        events.withColumn(
            "slot_s",
            (F.unix_timestamp("ts") - F.unix_timestamp("ts") % slot_seconds),
        )
        .withColumn("slot_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("slot_rank") <= limit)
        .select("user_id", "slot_s", "event_id", "slot_rank")
    )


def run_streaming_rate_limit(
    spark: SparkSession,
    events_path: str,
    limit: int = 3,
    slot_seconds: int = 3600,
) -> DataFrame:
    """Stateful per-user quota over a bounded stream (availableNow)."""
    from .events import events_stream, run_to_memory

    limited = (
        events_stream(spark, events_path)
        .groupBy("user_id")
        .applyInPandasWithState(
            _rate_limit_fn(limit, slot_seconds),
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(limited, "events_rate_limit_stream", "append")
