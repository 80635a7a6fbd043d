"""The shared timing loop (``aspep_etl_spark/measure.py``), driven by a
fake ``run(name) -> seconds`` — no Spark session.  Also pins the key set
of the ``bench.py`` result line, byte-compiles the harness and example
scripts, which no other test imports, and checks the package names they
and the benchmark's tracer look up."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import py_compile

import pytest

from aspep_etl_spark import measure

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scripted(times: dict[str, list[float]]):
    """A fake runner replaying each query's timings in order."""
    seq = {q: iter(t) for q, t in times.items()}
    calls: list[str] = []

    def run(name: str) -> float:
        calls.append(name)
        return next(seq[name])

    return run, calls


def test_warmup_stops_when_two_runs_agree():
    run, calls = scripted({"a": [5.0, 1.1, 1.0], "b": [1.0, 1.05]})
    assert measure.warm(run, ["a", "b"]) == {"a": 3, "b": 2}
    assert calls == ["a", "a", "a", "b", "b"]


def test_warmup_stops_at_cap():
    run, _ = scripted({"a": [8.0, 4.0, 2.0, 1.0, 0.5]})
    assert measure.warm(run, ["a"]) == {"a": measure.WARMUP_MAX}


def steady_after_warmup(timed: dict[str, list[float]]):
    """Two agreeing warmup runs per query, then the given timed runs."""
    return scripted({q: [t[0], t[0], *t] for q, t in timed.items()})


def test_stops_early_only_when_total_and_per_query_rules_hold():
    # both rules hold after two passes
    run, _ = steady_after_warmup({"a": [1.0, 1.01], "b": [2.0, 2.02]})
    res = measure.measure(run, ["a", "b"])
    assert res["converged"] and res["passes"] == 2

    # total within 5% but "a" spreads 20% until pass 4: keep going
    run, _ = steady_after_warmup(
        {"a": [0.5, 0.6, 0.7, 0.51], "b": [10.0, 10.0, 10.0, 10.0]}
    )
    res = measure.measure(run, ["a", "b"])
    assert res["converged"] and res["passes"] == 4

    # each query within 12% but the total spreads 10%: keep going
    run, _ = steady_after_warmup(
        {"a": [1.0, 1.1, 1.0], "b": [1.0, 1.1, 1.0]}
    )
    res = measure.measure(run, ["a", "b"])
    assert res["converged"] and res["passes"] == 3


def test_noisy_query_is_named_at_the_cap():
    n = measure.MAX_PASSES
    noisy = [2.0**i for i in range(n)]  # two best always 1.0 and 2.0
    run, _ = steady_after_warmup({"a": [1.0] * n, "noisy": noisy})
    res = measure.measure(run, ["a", "noisy"])
    assert not res["converged"]
    assert res["passes"] == n
    assert res["non_converged_queries"] == ["noisy"]
    assert res["query_spread_pct"] == {"a": 0.0, "noisy": 100.0}


def test_min_of_first_2_and_spread():
    timed = {"a": [1.2, 1.3, 1.15], "b": [2.0, 2.25, 2.1]}
    run, _ = steady_after_warmup(timed)
    res = measure.measure(run, ["a", "b"])
    assert res["passes"] == 3 and res["converged"]
    assert res["queries"] == {"a": 1.15, "b": 2.0}
    assert res["queries_min_of_first_2"] == {"a": 1.2, "b": 2.0}
    assert res["total_min_of_first_2"] == 3.2
    assert res["query_spread_pct"] == {"a": 4.3, "b": 5.0}
    assert res["pass_totals"] == [3.2, 3.55, 3.25]
    assert res["observations"] == timed
    assert measure.spread_pct([1.0]) is None
    assert measure.spread_pct([0.0, 1.0]) is None


def test_jit_clock_is_sampled_per_pass():
    ticks = iter([0, 30, 30, 35])
    run, _ = steady_after_warmup({"a": [1.0, 1.0]})
    res = measure.measure(run, ["a"], jit_ms=lambda: next(ticks))
    assert res["jit_ms_per_pass"] == [30, 5]


def test_quiet_gate_waits_then_warns(capsys):
    loads = iter([5.0] * 6 + [1.0] * 3)
    sleeps: list[float] = []

    def load():
        return [next(loads), 0.0, 0.0]

    gate = measure.quiet_gate(load, sleeps.append)
    assert not gate["load_warning"] and gate["quiet_wait_sec"] == 30.0
    assert sleeps == [10.0] * 3

    sleeps.clear()
    gate = measure.quiet_gate(lambda: [9.0, 9.0, 9.0], sleeps.append)
    assert gate["load_warning"] and gate["loadavg_before"] == [9.0, 9.0, 9.0]
    assert gate["quiet_wait_sec"] == measure.QUIET_WAIT_SEC
    assert gate["load_threshold"] == measure.LOAD_MAX
    assert "WARNING" in capsys.readouterr().err

    gate = measure.quiet_gate(lambda: [], sleeps.append)
    assert gate["loadavg_before"] == [] and not gate["load_warning"]


def test_compare_skips_zero_rows_and_nonpositive_baseline():
    a = {
        "value": 3.0,
        "queries": {"x": 1.0, "y": 2.0, "z": 0.0},
        "rows_out": {"x": 10, "y": 0, "z": 5},
    }
    b = {
        "value": 30.0,
        "queries": {"x": 10.0, "y": 20.0, "z": 1.0},
        "rows_out": {"x": 200, "y": 7, "z": 0},
    }
    out = measure.compare(a, b)
    assert out["ratio"] == {"x": 10.0, "y": 10.0}
    assert out["rows_out_ratio"] == {"x": 20.0, "z": 0.0}
    assert out["work_per_output_ratio"] == {"x": 0.5}
    assert out["total_ratio"] == 10.0
    assert measure.compare({**a, "value": 0.0}, b)["total_ratio"] is None
    # headline lines carry no rows_out
    assert measure.compare({"value": 1.0, "queries": {"x": 1.0}},
                           {"value": 2.0, "queries": {"x": 2.0}})["ratio"] == {"x": 2.0}


BENCH_KEYS = {
    "metric", "value", "unit", "queries", "queries_min_of_first_2",
    "total_min_of_first_2", "observations", "r3_queryset_total", "warmup",
    "warmup_runs", "jit_ms_per_pass", "passes", "pass_totals", "converged",
    "query_spread_pct", "non_converged_queries", "loadavg_before",
    "loadavg_after", "load_threshold", "quiet_wait_sec", "load_warning", "sf",
}


def test_bench_line_keeps_its_keys():
    import bench

    run, _ = steady_after_warmup({q: [1.0, 1.0] for q in bench.BENCH_QUERIES})
    res = measure.measure(run, bench.BENCH_QUERIES)
    line = bench.report(measure.quiet_gate(lambda: [0.1, 0.1, 0.1]), res)
    assert len(BENCH_KEYS) == 22 and set(line) == BENCH_KEYS
    assert list(line["queries"]) == bench.BENCH_QUERIES
    assert line["value"] == len(bench.BENCH_QUERIES)
    assert line["r3_queryset_total"] == len(bench.BENCH_QUERIES) - len(
        bench._POST_R3_QUERIES
    )


SCRIPTS = [
    os.path.join(REPO, "bench.py"),
    *sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))),
    *sorted(glob.glob(os.path.join(REPO, "examples", "*.py"))),
]


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_harness_scripts_compile(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_package_imports_resolve():
    """Every ``from aspep_etl_spark... import name`` in the scripts names
    something the package has (the scripts import it lazily, inside
    ``main``, so compiling them does not catch a rename)."""
    missing = []
    for path in SCRIPTS:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            package = (node.module or "").split(".")[0] if isinstance(node, ast.ImportFrom) else ""
            if package == "aspep_etl_spark":
                missing += [
                    (os.path.basename(path), node.module, a.name)
                    for a in node.names
                    if not _resolves(node.module, a.name)
                ]
    assert missing == []


def test_perfbench_trace_targets_exist():
    """Each function the benchmark's tracer wraps exists under its name; a
    rename would leave its per-layer metric silently at zero."""
    from perfbench.trace import TARGETS

    missing = [
        (mod, fn)
        for mod, fn, _, _ in TARGETS
        if not callable(getattr(importlib.import_module(mod), fn, None))
    ]
    assert missing == []
