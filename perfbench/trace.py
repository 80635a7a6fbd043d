"""Per-layer tracing from outside the program.

The benchmark measures each layer of ``aspep_etl_spark`` without editing
it, in four ways:

- **spans**: wrappers installed around the public functions of each
  layer (``install``), plus the benchmark's own calls into ``plans``.
  Spans stay in memory; a layer's self time is its span minus its child
  spans.  Each span also sets the Spark job description
  ``perfbench|<workload>|u<unit>|<query>|<layer>.<name>``.
- **the Spark event log** (``EventLog``): stages, tasks and SQL metrics,
  attributed to a unit and query by job description, or by submission
  time for jobs that carry another description (streaming micro-batches).
- **a ``StreamingQueryListener``** (``stream_listener``): micro-batch
  progress and state-store metrics.
- **JVM MXBeans**: JIT compile time and GC time per unit.

Untraced units pay only for an ``if`` per wrapped call; the event log is
a session setting, so it stays on for the whole of a traced run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from datetime import datetime

# (module, function, layer, span name).  Every module-level alias of the
# function inside the package is rewrapped, so ``from x import f as _t``
# call sites are covered too.
TARGETS = (
    ("aspep_etl_spark.sources.registry", "load_table", "sources", "load_table"),
    ("aspep_etl_spark.sources.registry", "fan_for_compute", "sources", "fan"),
    ("aspep_etl_spark.sources.excel", "parse_workbook_bytes", "sources", "parse_workbook"),
    ("aspep_etl_spark.sources.excel", "ingest_grids", "sources", "ingest_grids"),
    ("aspep_etl_spark.plans.pipeline", "derive_stats", "plans", "build"),
    ("aspep_etl_spark.plans.pipeline", "derive_extended_stats", "plans", "build"),
    ("aspep_etl_spark.sinks.publish", "write_canonical_store", "sinks", "store_write"),
    ("aspep_etl_spark.sinks.publish", "write_json_array", "sinks", "json_render"),
    ("aspep_etl_spark.sinks.publish", "gzip_publish", "sinks", "gzip"),
)

PREFIX = "perfbench"


class Span:
    __slots__ = ("unit", "query", "layer", "name", "start", "end", "parent", "attrs")

    def __init__(self, unit, query, layer, name, parent):
        self.unit, self.query, self.layer, self.name = unit, query, layer, name
        self.parent = parent
        self.start = time.time()
        self.end = None
        self.attrs: dict = {}

    @property
    def key(self) -> str:
        return f"{self.layer}.{self.name}"

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """Spans and per-unit counters for one run."""

    def __init__(self, workload: str, spark):
        self.workload = workload
        self.spark = spark
        self.enabled = False
        self.unit = -1
        self.qname = "-"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.units: list[dict] = []
        self.cache = {"free_s": 0.0, "blocks": 0}
        self._restore: list[tuple] = []
        self.listener = None

    # -- spans --------------------------------------------------------------

    def _describe(self, key: str | None) -> None:
        desc = None if key is None else f"{PREFIX}|{self.workload}|u{self.unit}|{self.qname}|{key}"
        self.spark.sparkContext.setJobDescription(desc)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(self.unit, self.qname, layer, name, parent)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s.key)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(self._stack[-1].key if self._stack else None)

    @contextlib.contextmanager
    def query(self, name: str):
        self.qname = name
        try:
            with self.span("query", name):
                yield
        finally:
            self.qname = "-"

    def note_artifacts(self, result: dict) -> None:
        if not self.enabled:
            return
        store = sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(result["store"], "**", "*.parquet"), recursive=True)
        )
        gz = list(result["artifacts"].values())
        self.units[-1].update(
            store_bytes=store,
            json_bytes=sum(os.path.getsize(p[: -len(".gz")]) for p in gz),
            gzip_bytes=sum(os.path.getsize(p) for p in gz),
        )

    def note_rows(self, rows: int) -> None:
        if self.enabled:
            self.units[-1]["out_rows"][self.qname] = rows

    def free_blocks(self) -> None:
        """``free_cached_blocks`` between queries and units, timed."""
        from aspep_etl_spark.cache import free_cached_blocks

        t0 = time.perf_counter()
        n = free_cached_blocks(self.spark)
        self.cache["free_s"] += time.perf_counter() - t0
        self.cache["blocks"] += n

    # -- units --------------------------------------------------------------

    def begin_unit(self, index: int, traced: bool) -> None:
        self.unit = index
        self.enabled = traced
        self.cache = {"free_s": 0.0, "blocks": 0}
        u = {"unit": index, "traced": traced, "start": time.time(), "out_rows": {}}
        if traced:
            u["mx0"] = self._mxbeans()
        self.units.append(u)

    def end_unit(self, timed_s: float, failed: bool) -> dict:
        u = self.units[-1]
        u.update(end=time.time(), timed_s=timed_s, failed=failed,
                 cache_free_s=self.cache["free_s"], cache_blocks=self.cache["blocks"])
        if u["traced"]:
            jit0, gc0 = u.pop("mx0")
            jit1, gc1 = self._mxbeans()
            u.update(jit_ms=jit1 - jit0, gc_ms=gc1 - gc0)
        self.enabled = False
        return u

    def _mxbeans(self) -> tuple[float, float]:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
        return float(mf.getCompilationMXBean().getTotalCompilationTime()), float(gc)

    # -- wrappers -----------------------------------------------------------

    def install(self) -> None:
        """Wrap every ``TARGETS`` function in place and add the listener."""
        import importlib

        import aspep_etl_spark.plans.aspep_job  # noqa: F401 — load every alias
        import aspep_etl_spark.plans.contract  # noqa: F401

        for mod_name, fn_name, layer, name in TARGETS:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(orig, layer, name, fn_name)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("aspep_etl_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapped)
                        self._restore.append((mod, attr, orig))
        self.listener = stream_listener()
        self.spark.streams.addListener(self.listener)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()
        if self.listener is not None:
            self.listener.drain()
            self.spark.streams.removeListener(self.listener)

    def _wrap(self, fn, layer: str, name: str, fn_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(layer, name) as s:
                out = fn(*args, **kwargs)
                if fn_name == "fan_for_compute":
                    s.attrs["fired"] = out is not args[0]
                elif fn_name == "parse_workbook_bytes":
                    s.attrs["bytes"] = len(args[0])
                return out

        return wrapper


def stream_listener():
    """A listener that keeps every micro-batch progress in memory (it runs
    on the listener-bus thread, hence the lock)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            ops = [
                {"rows": o.numRowsTotal, "mem": o.memoryUsedBytes, "commit_ms": o.commitTimeMs}
                for o in p.stateOperators
            ]
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "ts": _iso_epoch(p.timestamp),
                "trigger_ms": float(p.durationMs.get("triggerExecution", 0)),
                "add_batch_ms": float(p.durationMs.get("addBatch", 0)),
                "input_rows": int(p.numInputRows),
                "ops": ops,
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def drain(self, timeout: float = 5.0) -> None:
            """Wait until every started query's events have arrived."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.05)

    return _Listener()


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------


class EventLog:
    """The parts of a Spark JSON event log the layer metrics need."""

    def __init__(self, log_dir: str):
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                with open(path) as f:
                    for line in f:
                        self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs.append({
                "id": e["Job ID"],
                "submit": e["Submission Time"] / 1000.0,
                "stages": e["Stage IDs"],
                "desc": (e.get("Properties") or {}).get("spark.job.description") or "",
            })
        elif kind == "SparkListenerJobEnd":
            for j in self.jobs:
                if j["id"] == e["Job ID"]:
                    j["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}
            self.stages[si["Stage ID"]] = {
                "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0,
                "scan_ms": _num(acc.get("scan time")),
                "python_ms": _num(acc.get("time to run Python workers")),
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append({
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                "sw_rows": sw.get("Shuffle Records Written", 0),
                "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "fetch_ms": sr.get("Fetch Wait Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })

    def attribute(self, spans: list[Span]) -> None:
        """Give every job a ``unit``/``query``/``layer``: from our job
        description when it has one, else from the innermost span open
        at its submission."""
        ordered = sorted(spans, key=lambda s: s.start)
        for j in self.jobs:
            parts = j["desc"].split("|")
            if len(parts) == 5 and parts[0] == PREFIX:
                j["unit"], j["query"], j["layer"] = int(parts[2][1:]), parts[3], parts[4]
                continue
            inner = None
            for s in ordered:
                if s.start > j["submit"]:
                    break
                if s.end is not None and s.end >= j["submit"]:
                    inner = s
            if inner is not None:
                j["unit"], j["query"], j["layer"] = inner.unit, inner.query, inner.key

    def unit_stats(self, unit: int) -> dict:
        jobs = [j for j in self.jobs if j.get("unit") == unit]
        stage_ids = sorted({s for j in jobs for s in j["stages"] if s in self.tasks})
        tasks = [t for s in stage_ids for t in self.tasks[s]]
        out = {
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "exchanges": sum(1 for s in stage_ids if any(t["sw_bytes"] for t in self.tasks[s])),
            "sw_bytes": sum(t["sw_bytes"] for t in tasks),
            "sr_bytes": sum(t["sr_bytes"] for t in tasks),
            "fetch_s": sum(t["fetch_ms"] for t in tasks) / 1000.0,
            "spill": sum(t["spill"] for t in tasks),
            "scan_bytes": sum(t["in_bytes"] for t in tasks),
            "scan_s": sum(self.stages.get(s, {}).get("scan_ms", 0) for s in stage_ids) / 1000.0,
            "python_s": sum(self.stages.get(s, {}).get("python_ms", 0) for s in stage_ids) / 1000.0,
            "eager_jobs": sum(1 for j in jobs if j["layer"] == "plans.build"),
            "skew": 0.0,
        }
        if stage_ids:
            longest = max(stage_ids, key=lambda s: self.stages.get(s, {}).get("wall", 0))
            durs = [t["dur"] for t in self.tasks[longest]]
            med = statistics.median(durs)
            out["skew"] = max(durs) / med if med > 0 else 1.0
        # rows through each query's largest exchange
        out["exchange_rows"] = {}
        for q in {j["query"] for j in jobs}:
            qs = {s for j in jobs if j["query"] == q for s in j["stages"] if s in self.tasks}
            rows = [sum(t["sw_rows"] for t in self.tasks[s]) for s in qs]
            if rows and max(rows) > 0:
                out["exchange_rows"][q] = max(rows)
        # Spark time inside the JSON sink (it also runs the lazy stats plans)
        out["json_jobs_s"] = _union([
            (j["submit"], j.get("end", j["submit"])) for j in jobs if j["layer"] == "sinks.json_render"
        ])
        return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Per-layer metrics
# --------------------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[str, float]:
    """Layer → Σ (span − its child spans)."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[id(s.parent)] = child.get(id(s.parent), 0.0) + s.dur
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - child.get(id(s), 0.0)
    return out


def layer_metrics(tracer: Tracer, log: EventLog, cores: int, setup_s: float) -> tuple[dict, dict]:
    """(per-layer metrics, per-query breakdown) as medians over the traced
    warm units."""
    log.attribute(tracer.spans)
    warm = [u for u in tracer.units if u["unit"] > 0 and not u["failed"]]
    traced = [u for u in warm if u["traced"]] or [u for u in tracer.units if u["traced"]]
    # the first warm unit is still ~10% slower (JIT): compare with later ones
    plain = [u for u in warm if not u["traced"] and u["unit"] > 1] or [
        u for u in warm if not u["traced"]
    ]
    progress = tracer.listener.progress if tracer.listener else []
    per_unit = [_unit_metrics(u, tracer, log, cores, progress) for u in traced]
    metrics = {k: statistics.median(m[k] for m in per_unit) for k in per_unit[0]}
    metrics["session.start_s"] = setup_s
    if plain:
        metrics["trace.overhead_frac"] = (
            statistics.median(u["timed_s"] for u in traced)
            / statistics.median(u["timed_s"] for u in plain) - 1.0
        )
    else:
        metrics["trace.overhead_frac"] = 0.0
    return metrics, _breakdown(tracer, log, traced)


def _unit_metrics(u: dict, tracer: Tracer, log: EventLog, cores: int, progress: list) -> dict:
    spans = [s for s in tracer.spans if s.unit == u["unit"]]

    def total(key: str) -> float:
        return sum(s.dur for s in spans if s.key == key)

    def count(key: str) -> int:
        return sum(1 for s in spans if s.key == key)

    ev = log.unit_stats(u["unit"])
    wall = u["end"] - u["start"]
    timed = u["timed_s"]
    parse_s = total("sources.parse_workbook")
    parse_b = sum(s.attrs.get("bytes", 0) for s in spans if s.key == "sources.parse_workbook")
    json_s = total("sinks.json_render")
    sinks_s = total("sinks.store_write") + json_s + total("sinks.gzip")
    exec_s = total("plans.execute") or ev["json_jobs_s"]
    yield_qs = [q for q in u["out_rows"] if q in ev["exchange_rows"]]
    out_rows = sum(u["out_rows"][q] for q in yield_qs)
    ex_rows = sum(ev["exchange_rows"][q] for q in yield_qs)

    batches = [p for p in progress if u["start"] <= p["ts"] <= u["end"]]
    last: dict[str, dict] = {}
    for p in sorted(batches, key=lambda p: p["batch"]):
        last[p["run"]] = p
    trig = sum(p["trigger_ms"] for p in batches)
    return {
        "session.jit_ms": u["jit_ms"],
        "session.gc_ms": u["gc_ms"],
        "sources.load_table_s": total("sources.load_table"),
        "sources.load_table_calls": count("sources.load_table"),
        "sources.fan_calls": count("sources.fan"),
        "sources.fan_fired": sum(1 for s in spans if s.key == "sources.fan" and s.attrs.get("fired")),
        "sources.scan_s": ev["scan_s"],
        "sources.scan_bytes": ev["scan_bytes"],
        "sources.parse_workbook_s": parse_s,
        "sources.workbook_mb_per_s": parse_b / 1e6 / parse_s if parse_s else 0.0,
        "sources.ingest_grids_s": total("sources.ingest_grids"),
        "plans.build_s": total("plans.build"),
        "plans.build_share": total("plans.build") / timed if timed else 0.0,
        "plans.eager_jobs": ev["eager_jobs"],
        "plans.plan_s": total("plans.plan"),
        "plans.execute_s": exec_s,
        "operators.stages": ev["stages"],
        "operators.tasks": ev["tasks"],
        "operators.executor_run_s": ev["run_s"],
        "operators.executor_cpu_s": ev["cpu_s"],
        "operators.cpu_busy_frac": ev["run_s"] / (wall * cores) if wall else 0.0,
        "operators.task_skew": ev["skew"],
        "operators.exchanges": ev["exchanges"],
        "operators.shuffle_write_bytes": ev["sw_bytes"],
        "operators.shuffle_read_bytes": ev["sr_bytes"],
        "operators.shuffle_fetch_wait_s": ev["fetch_s"],
        "operators.python_worker_s": ev["python_s"],
        "operators.spill_bytes": ev["spill"],
        "operators.candidate_yield": out_rows / ex_rows if ex_rows else 0.0,
        "streaming.batches": len(batches),
        "streaming.trigger_ms_p50": statistics.median(p["trigger_ms"] for p in batches) if batches else 0.0,
        "streaming.add_batch_ms": sum(p["add_batch_ms"] for p in batches),
        "streaming.state_rows": sum(o["rows"] for p in last.values() for o in p["ops"]),
        "streaming.state_mem_bytes": sum(o["mem"] for p in last.values() for o in p["ops"]),
        "streaming.state_commit_ms": sum(o["commit_ms"] for p in batches for o in p["ops"]),
        "streaming.rows_per_s": sum(p["input_rows"] for p in batches) / (trig / 1000.0) if trig else 0.0,
        "sinks.store_write_s": total("sinks.store_write"),
        "sinks.store_bytes": u.get("store_bytes", 0),
        "sinks.json_render_s": max(0.0, json_s - ev["json_jobs_s"]),
        "sinks.json_bytes": u.get("json_bytes", 0),
        "sinks.gzip_s": total("sinks.gzip"),
        "sinks.gzip_bytes": u.get("gzip_bytes", 0),
        "sinks.bytes_per_fact_byte": u["json_bytes"] / u["store_bytes"] if u.get("store_bytes") else 0.0,
        "sinks.warm_share": sinks_s / timed if timed else 0.0,
        "cache.free_s": u["cache_free_s"],
        "cache.blocks_freed": u["cache_blocks"],
    }


def _breakdown(tracer: Tracer, log: EventLog, traced: list[dict]) -> dict:
    """Per query: median seconds in each span kind and its stage counts;
    plus the median self time of each layer per unit."""
    units = {u["unit"] for u in traced}
    rows: dict[str, dict[str, list]] = {}
    for u in units:
        spans = [s for s in tracer.spans if s.unit == u]
        stats = log.unit_stats(u)
        for q in {s.query for s in spans}:
            sums: dict[str, float] = {}
            for s in spans:
                if s.query == q and s.layer != "query":
                    sums[s.key + "_s"] = sums.get(s.key + "_s", 0.0) + s.dur
            rec = rows.setdefault(q, {})
            for k, v in sums.items():
                rec.setdefault(k, []).append(v)
            jobs = [j for j in log.jobs if j.get("unit") == u and j.get("query") == q]
            rec.setdefault("jobs", []).append(len(jobs))
            rec.setdefault("stages", []).append(
                len({st for j in jobs for st in j["stages"] if st in log.tasks}))
            rec.setdefault("largest_exchange_rows", []).append(stats["exchange_rows"].get(q, 0))
    per_query = {
        q: {k: round(statistics.median(v), 4) for k, v in rec.items()} for q, rec in sorted(rows.items())
    }
    selfs = [self_times([s for s in tracer.spans if s.unit == u]) for u in units]
    layers = sorted({k for d in selfs for k in d})
    return {
        "units": sorted(units),
        "per_query": per_query,
        "layer_self_s": {k: round(statistics.median(d.get(k, 0.0) for d in selfs), 4) for k in layers},
    }
