"""One timing harness for the Spark-side benchmarks (``bench.py``,
``tools/bench_tier.py``): warmup, timed passes, convergence, the
quiet-host gate, and the ratio of two result lines.

The timed action writes the query through the noop sink — full
distributed compute, no driver-side collect.  A ``count()`` would not do:
Catalyst prunes projected-only expressions under it, skipping the
codegen, Python-worker and expression paths the query really runs.
Cached blocks are freed after each run, untimed.

Policy, the same for every caller:

- **Quiet gate.**  Background load makes timings uninterpretable, so the
  harness first waits (up to ``QUIET_WAIT_SEC``) for the 1-min loadavg to
  drop to ``LOAD_MAX``.  The 1-min loadavg decays with a ~1 min time
  constant, so a burst from a preceding test run drains within that
  budget.  If it never quiets the run proceeds with ``load_warning: true``.
- **Adaptive warmup.**  Big generated codegen units (the ~150-column
  pipeline) take 5-8 executions to JIT-settle, with ~35 s of compile time
  on the first run and a load-dependent decay.  One warmup pass would
  strand the minimum partway down that curve, so each query warms until
  two consecutive runs agree within ``TOLERANCE`` (cap ``WARMUP_MAX``).
- **Min of passes, auto-extended.**  The reported number is the
  per-query minimum over ``MIN_PASSES``..``MAX_PASSES`` timed passes.  The
  loop stops once every minimum is backed by a second observation: the
  time-weighted second-best spread (Σ second − Σ best) / Σ best is within
  ``TOTAL_TOLERANCE`` AND each query's two best agree within
  ``TOLERANCE``.  The per-query rule keeps one noisy query from hiding
  inside a green total; queries still spreading at the cap are named in
  ``non_converged_queries``.  ``queries_min_of_first_2`` uses the same
  pass count every run, so deltas read off it are immune to one run
  having sampled more passes than another.
"""

from __future__ import annotations

import sys
import time
from typing import Callable

LOAD_MAX = 2.0
QUIET_WAIT_SEC = 180.0
WARMUP_MAX = 4
MIN_PASSES = 2
MAX_PASSES = 6
TOLERANCE = 0.12
TOTAL_TOLERANCE = 0.05

#: 128 MB input splits (the engine default) suit cluster-scale scans but
#: leave a ~25 MB local bench file as one task; small splits let
#: local[N] parallelize the scan stage.
SPARK_CONF = {
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
}


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:  # non-Linux fallback
        return []


def quiet_gate(load: Callable[[], list[float]] = loadavg, sleep=time.sleep) -> dict:
    waited = 0.0
    while load() and load()[0] > LOAD_MAX and waited < QUIET_WAIT_SEC:
        sleep(10.0)
        waited += 10.0
    before = load()
    warning = bool(before) and before[0] > LOAD_MAX
    if warning:
        print(
            f"WARNING: loadavg {before[0]} > {LOAD_MAX} after waiting "
            f"{waited:.0f}s — timings will include background-load noise",
            file=sys.stderr,
        )
    return {
        "loadavg_before": before,
        "load_threshold": LOAD_MAX,
        "quiet_wait_sec": waited,
        "load_warning": warning,
    }


def spark_runner(spark, sf_dir: str) -> Callable[[str], float]:
    """``run(name) -> seconds`` for one registry query at ``sf_dir``."""
    from aspep_etl_spark.cache import free_cached_blocks
    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    def run(name: str) -> float:
        t0 = time.time()
        SPARK_QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        free_cached_blocks(spark)
        return dt

    return run


def jit_clock(spark) -> Callable[[], int] | None:
    """Total JIT compile milliseconds of the driver JVM, or None."""
    try:
        bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    except Exception:  # noqa: BLE001 — telemetry only
        return None
    return bean.getTotalCompilationTime


def warm(run: Callable[[str], float], names: list[str]) -> dict[str, int]:
    runs: dict[str, int] = {}
    for name in names:
        prev = None
        for i in range(WARMUP_MAX):
            dt = run(name)
            runs[name] = i + 1
            if prev is not None and abs(dt - prev) <= TOLERANCE * prev:
                break
            prev = dt
    return runs


def _two_best(obs: list[float]) -> tuple[float, float]:
    best = sorted(obs)
    return best[0], best[1]


def converged(observations: dict[str, list[float]]) -> bool:
    pairs = [_two_best(o) for o in observations.values()]
    best = sum(b for b, _ in pairs)
    second = sum(s for _, s in pairs)
    total_ok = best > 0 and (second - best) <= TOTAL_TOLERANCE * best
    per_query_ok = all(s - b <= TOLERANCE * b for b, s in pairs if b > 0)
    return total_ok and per_query_ok


def spread_pct(obs: list[float]) -> float | None:
    """Percent spread between the two best observations."""
    if len(obs) < 2:
        return None
    best, second = _two_best(obs)
    return round(100.0 * (second - best) / best, 1) if best > 0 else None


def measure(
    run: Callable[[str], float],
    names: list[str],
    jit_ms: Callable[[], int] | None = None,
) -> dict:
    """Warm, then time passes over ``names`` until converged or capped."""
    warmup_runs = warm(run, names)
    observations: dict[str, list[float]] = {q: [] for q in names}
    pass_totals: list[float] = []
    jit_ms_per_pass: list[int] = []
    ok = False
    for p in range(MAX_PASSES):
        jit0 = jit_ms() if jit_ms else 0
        for name in names:
            observations[name].append(round(run(name), 3))
        pass_totals.append(round(sum(o[-1] for o in observations.values()), 3))
        if jit_ms:
            jit_ms_per_pass.append(int(jit_ms() - jit0))
        if p + 1 >= MIN_PASSES and (ok := converged(observations)):
            break
    spread = {q: spread_pct(o) for q, o in observations.items()}
    first_2 = {q: min(o[:2]) for q, o in observations.items()}
    return {
        "queries": {q: min(o) for q, o in observations.items()},
        "queries_min_of_first_2": first_2,
        "total_min_of_first_2": round(sum(first_2.values()), 3),
        "observations": observations,
        "warmup_runs": warmup_runs,
        "jit_ms_per_pass": jit_ms_per_pass,
        "passes": len(pass_totals),
        "pass_totals": pass_totals,
        "converged": ok,
        "query_spread_pct": spread,
        "non_converged_queries": sorted(
            q for q, s in spread.items() if s is not None and s > 100 * TOLERANCE
        ),
    }


def report(metric: str, gate: dict, result: dict, sf_dir: str, **extra) -> dict:
    """One JSON-ready result line: measure() fields plus the gate's."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": metric,
        "value": round(sum(result["queries"].values()), 3),
        "unit": "sec",
        **result,
        **extra,
        "warmup": True,
        **gate,
        "loadavg_after": loadavg(),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def compare(a: dict, b: dict) -> dict:
    """Per-query ratios of result line ``b`` over baseline ``a``.

    Pair-emitting queries legitimately grow their output faster than the
    input, so ``work_per_output_ratio`` — the wall ratio per unit of
    output growth — is the scaling number to judge them by: ~1 means
    output-proportional compute.  Queries with a zero baseline time or a
    zero ``rows_out`` on either side have no ratio.
    """
    ta, tb = a["queries"], b["queries"]
    ra, rb = a.get("rows_out", {}), b.get("rows_out", {})
    timed = [q for q in ta if q in tb and ta[q] > 0]
    counted = [q for q in ra if q in rb and ra[q]]
    return {
        "ratio": {q: round(tb[q] / ta[q], 2) for q in timed},
        "rows_out_ratio": {q: round(rb[q] / ra[q], 2) for q in counted},
        "work_per_output_ratio": {
            q: round((tb[q] / rb[q]) / (ta[q] / ra[q]), 2)
            for q in timed
            if q in counted and rb[q]
        },
        "total_ratio": round(b["value"] / a["value"], 2) if a["value"] > 0 else None,
    }
