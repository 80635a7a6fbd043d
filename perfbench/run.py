#!/usr/bin/env python3
"""The repository benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload aspep_etl --seed 1 --seconds 10 --trace 0

A run generates the workload's inputs from ``--seed`` (cached under
``.perfbench/inputs``), starts one Spark session on ``local[<nproc>]``
and runs the workload as a closed loop with one client: the first unit
is the cold one, then warm units follow until ``--seconds`` have passed
(and at least the workload's ``min_warm`` units have run).  Every unit's
output is checked
against an oracle, untimed.  The last stdout line is the result::

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the ``end_to_end`` metrics of BENCHMARK.json,
``--trace 1`` the ``per_layer`` ones: that run alternates traced and
untraced warm units, and the lines before the result carry the run
stamp and a per-query breakdown (spans are also written to
``.perfbench/traces``).  See perfbench/README.md for what each metric
means and which layer change should move it.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

#: warm units a traced run makes at least.  It alternates untraced and
#: traced units, and the first warm unit is still ~10% slower than the next
#: (JIT): with three, it has an untraced unit after the first to compare
#: its traced one with.
TRACED_MIN_WARM = 3
#: no new unit starts this long after the session is up
HARD_CAP_S = 100.0
#: session start-ups per untraced run, the main one included (``setup_s`` is
#: their median)
SETUPS = 2


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# Environment and session
# --------------------------------------------------------------------------


def configure(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and
    point the session at all cores of this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Every JVM (the spark-submit launcher too) would write /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # The package default heap (16g) is all the memory of a 4-core, 16 GB
    # host; the benchmark's inputs need well under 1 GB.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # Let the scan fan fire on the benchmark's small corpus (default 2 MB).
    os.environ["SPARK_GRAFT_FAN_MIN_BYTES"] = str(64 * 1024)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xss64m -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict[str, str]):
    """``get_spark`` plus one trivial job; returns (session, seconds)."""
    t0 = time.perf_counter()
    from aspep_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def setup_probe(work: str) -> None:
    """``--setup-probe``: one session start-up in a fresh process."""
    configure(work)
    spark, secs = start_session(session_conf(work, None))
    stop_session(spark)
    print(f"{secs:.6f}")


def probe_setups(run_dir: str, n: int) -> list[float]:
    out = []
    for i in range(n):
        work = os.path.join(run_dir, f"probe{i}")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe", work],
            capture_output=True, text=True, timeout=150, cwd=ROOT,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"setup probe failed: {proc.stderr[-2000:]}")
        out.append(float(proc.stdout.strip().splitlines()[-1]))
        shutil.rmtree(work, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Processes and memory
# --------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


class RssPeak(threading.Thread):
    """Peak summed RSS of this process's descendants: the driver JVM and
    its Python workers."""

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.period):
            total = 0
            for pid in descendants(me):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (FileNotFoundError, ProcessLookupError):
                    pass
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 1e6


# --------------------------------------------------------------------------
# Run stamp
# --------------------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs:
    the run stamp's measure of noise from outside the container."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def code_stamp() -> dict:
    """The git rev when the checkout has one, and always a digest of the
    package source, so a result names the code it measured."""
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "aspep_etl_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {"git_rev": rev, "code_sha": h.hexdigest()[:16]}


# --------------------------------------------------------------------------
# Main loop
# --------------------------------------------------------------------------


def run(args) -> int:
    from perfbench import workloads
    from perfbench.trace import EventLog, Tracer, layer_metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units_of = {m["name"]: m["unit"] for m in spec[kind]}

    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(STATE, "inputs"))
    t_gen = time.perf_counter()
    wl.prepare()
    log(f"{wl.name} inputs ready in {time.perf_counter() - t_gen:.1f}s")

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    stamp = {
        "workload": wl.name, "seed": args.seed, "sf": wl.sf, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "loadavg_before": loadavg(),
        "steal_s": -steal_s(),
        "python": platform.python_version(), **code_stamp(),
    }
    spark = None
    try:
        configure(run_dir)
        setups = [] if args.trace else probe_setups(run_dir, SETUPS - 1)
        event_dir = os.path.join(run_dir, "events") if args.trace else None
        rss = RssPeak() if args.trace else None
        if args.trace:
            os.makedirs(event_dir)
            rss.start()
        spark, main_setup = start_session(session_conf(run_dir, event_dir))
        setups.append(main_setup)
        log(f"session start-ups: {setups}")
        spark.sparkContext.setLogLevel("ERROR")
        stamp.update(spark=spark.version,
                     java=spark.sparkContext._jvm.System.getProperty("java.version"))
        tracer = Tracer(wl.name, spark)
        if args.trace:
            tracer.install()
        wl.start(spark)
        attempted, failed = closed_loop(spark, wl, tracer, run_dir, args)
        if args.trace:
            tracer.uninstall()
        stop_session(spark)
        spark = None
        log("session stopped")
        stamp["loadavg_after"] = loadavg()
        stamp["steal_s"] += steal_s()

        units = tracer.units
        warm = [u["timed_s"] for u in units if u["unit"] > 0 and not u["traced"]]
        stamp["warm_samples"] = len(warm)
        if args.trace:
            metrics, breakdown = layer_metrics(tracer, EventLog(event_dir), cores(), main_setup)
            metrics["fail_frac"] = failed / attempted
            metrics["peak_rss_mb"] = rss.stop()
            write_trace(tracer, stamp, breakdown, args)
            print(json.dumps({"stamp": stamp}))
            print(json.dumps({"breakdown": breakdown}))
        else:
            metrics = {
                "setup_s": statistics.median(setups),
                "cold_s": units[0]["timed_s"],
                "warm_s": statistics.median(warm),
            }
            stamp.update(setup_samples=setups, warm_units_s=warm)
            print(json.dumps({"stamp": stamp}))
        missing = set(units_of) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not produced: {sorted(missing)}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units_of[k]} for k in units_of},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def closed_loop(spark, wl, tracer, run_dir: str, args) -> tuple[int, int]:
    """Cold unit, then warm units until ``--seconds`` of warm wall time
    and the workload's ``min_warm`` units; returns (attempted, failed)."""
    attempted = failed = 0
    t_up = time.perf_counter()
    warm_wall = 0.0
    min_warm = TRACED_MIN_WARM if args.trace else wl.min_warm
    i = 0
    while i == 0 or (
        (warm_wall < args.seconds or i - 1 < min_warm)
        and time.perf_counter() - t_up < HARD_CAP_S
    ):
        traced = bool(args.trace) and i % 2 == 0
        work = os.path.join(run_dir, f"u{i}")
        t0 = time.perf_counter()
        tracer.begin_unit(i, traced)
        why = None
        try:
            timed = wl.unit(spark, tracer, work)
        except Exception:  # noqa: BLE001 — a failed unit is counted, not fatal
            why = traceback.format_exc(limit=8)
            timed = time.perf_counter() - t0
        tracer.free_blocks()
        u = tracer.end_unit(timed, failed=why is not None)
        if why is None:
            try:
                why = wl.check()
            except Exception:  # noqa: BLE001 — a check that raises is a failed check
                why = traceback.format_exc(limit=8)
        shutil.rmtree(work, ignore_errors=True)
        attempted += 1
        if why is not None:
            failed += 1
            u["failed"] = True
            log(f"unit {i} FAILED: {why}")
        log(f"unit {i} {'traced ' if traced else ''}{timed:.3f}s")
        if i > 0:
            warm_wall += time.perf_counter() - t0
        i += 1
    return attempted, failed


def write_trace(tracer, stamp: dict, breakdown: dict, args) -> None:
    """Spans stay in memory during the run; this writes them once."""
    out = os.path.join(STATE, "traces")
    os.makedirs(out, exist_ok=True)
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    spans = [
        {"unit": s.unit, "query": s.query, "span": s.key, "start": s.start, "end": s.end,
         "parent": index.get(id(s.parent)), **s.attrs}
        for s in tracer.spans
    ]
    path = os.path.join(out, f"{args.workload}-s{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "breakdown": breakdown, "units": tracer.units, "spans": spans}, f)
    log(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv: list[str]) -> int:
    if argv[:1] == ["--setup-probe"]:
        setup_probe(argv[1])
        return 0
    if not os.path.isfile(os.path.join(ROOT, "aspep_etl_spark", "__init__.py")):
        log(f"no aspep_etl_spark package under {ROOT}: run from the root of a full checkout")
        return 2
    for mod in ("pyspark", "duckdb"):
        if importlib.util.find_spec(mod) is None:
            log(f"cannot import {mod}")
            return 2
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
