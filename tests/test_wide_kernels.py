"""Chunked wide-kernel equivalence: the Arrow-batched yoy/rank kernels must
produce identical results whether a shuffle partition is processed whole or
streamed in tiny chunks (skew safety — VERDICT r3 item 1).

Both kernels run on ``windows._cohort_kernel``, whose chunker flushes only
complete cohort runs once the buffer passes ``WIDE_CHUNK_ROWS``.  These
tests force pathological chunking (``WIDE_CHUNK_ROWS`` monkeypatched far
below the cohort size, plus a deliberately skewed single-cohort frame),
once with Spark's default Arrow batches and once with 3-row batches so the
multi-batch buffer and the previous-batch key compare run, and pin exact
equality against the unchunked JVM-expression twins.  A subprocess test
runs both kernels where the Python workers cannot import the package.
"""

import math
import os
import random
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.operators import windows
from aspep_etl_spark.operators.windows import (
    cohort_ranks,
    ranks_wide,
    signed_delta_ranks,
    yoy_deltas,
    yoy_deltas_wide,
)


def _mk_frame(spark, n_cohorts, rows_per_cohort, seed=7):
    """Frame with gaps, zeros, nulls and ties across several metrics."""
    rng = random.Random(seed)
    rows = []
    for s in range(n_cohorts):
        state = f"S{s:02d}"
        fn = f"fn{s % 3}"
        year = 2000
        for _ in range(rows_per_cohort):
            year += rng.choice([1, 1, 1, 2])  # gap years
            m1 = rng.choice([None, 0.0, 0.0, float(rng.randint(-5, 50))])
            m2 = rng.choice([None, float(rng.randint(0, 9))])  # ties likely
            rows.append((state, fn, year, m1, m2))
    return spark.createDataFrame(
        rows, "state_code string, gov_function string, year int, m1 double, m2 double"
    )


def _collect_sorted(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    key = lambda r: tuple((v is None, v) for v in r)
    return cols, sorted(rows, key=key)


def _assert_frames_equal(a, b):
    ca, ra = _collect_sorted(a)
    cb, rb = _collect_sorted(b)
    assert ca == cb
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        for cx, vx, vy in zip(ca, x, y):
            if vx is None or vy is None:
                assert vx is vy is None, (cx, vx, vy)
            elif isinstance(vx, float):
                if math.isnan(vx) or math.isnan(vy):
                    assert math.isnan(vx) and math.isnan(vy), (cx, vx, vy)
                elif math.isinf(vx) or math.isinf(vy):
                    assert vx == vy, (cx, vx, vy)
                else:
                    assert vx == pytest.approx(vy, rel=1e-12, abs=1e-12), (cx, vx, vy)
            else:
                assert vx == vy, (cx, vx, vy)


KEYS = ["state_code", "gov_function"]
METRICS = ["m1", "m2"]
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def arrow_batches(spark):
    """``for _ in arrow_batches:`` runs a check under Spark's default Arrow
    batch size, then under 3-row batches so the multi-batch buffer and the
    previous-batch key compare run; the setting is unset at teardown."""

    def passes():
        yield
        spark.conf.set(ARROW_BATCH, "3")
        yield

    yield passes()
    spark.conf.unset(ARROW_BATCH)


def _chunk(monkeypatch, rows):
    # read when the plan is built, so it holds for the frame built next
    monkeypatch.setattr(windows, "WIDE_CHUNK_ROWS", rows)


def _without_pct(df):
    # ``_abs`` is the same plain diff in both forms; the kernel's ``_pct`` is
    # legacy pandas ``pct_change`` (padded, ±inf), pinned chunk-invariant below
    return df.select([c for c in df.columns if not c.endswith("_pct")])


def test_yoy_chunked_matches_window_expressions(spark, arrow_batches, monkeypatch):
    df = _mk_frame(spark, n_cohorts=9, rows_per_cohort=25)
    expected = yoy_deltas(df, KEYS, ["year"], METRICS)
    _chunk(monkeypatch, 7)
    got = yoy_deltas_wide(df, KEYS, ["year"], METRICS)
    for _ in arrow_batches:
        _assert_frames_equal(_without_pct(expected), _without_pct(got))


def test_yoy_chunked_skewed_single_cohort(spark, arrow_batches, monkeypatch):
    # one giant cohort far larger than the chunk: the kernel must keep
    # accumulating until the cohort is whole, never flush part of it
    df = _mk_frame(spark, n_cohorts=1, rows_per_cohort=400)
    expected = yoy_deltas(df, KEYS, ["year"], METRICS)
    _chunk(monkeypatch, 16)
    got = yoy_deltas_wide(df, KEYS, ["year"], METRICS)
    for _ in arrow_batches:
        _assert_frames_equal(_without_pct(expected), _without_pct(got))


def test_yoy_reference_exact_chunk_invariant(spark, arrow_batches, monkeypatch):
    # legacy pct_change mode (ffill + ±inf) must be chunk-size invariant:
    # tiny chunks vs one big chunk give byte-identical results
    df = _mk_frame(spark, n_cohorts=4, rows_per_cohort=60, seed=11)
    _chunk(monkeypatch, 1_000_000)
    whole = yoy_deltas_wide(df, KEYS, ["year"], METRICS)
    _chunk(monkeypatch, 5)
    tiny = yoy_deltas_wide(df, KEYS, ["year"], METRICS)
    for _ in arrow_batches:
        _assert_frames_equal(whole, tiny)


def test_ranks_chunked_matches_window_expressions(spark, arrow_batches, monkeypatch):
    df = _mk_frame(spark, n_cohorts=9, rows_per_cohort=25, seed=3)
    deltas = yoy_deltas(df, KEYS, ["year"], METRICS)
    delta_cols = [c for c in deltas.columns if c.endswith(("_pct", "_abs"))]
    expected = signed_delta_ranks(
        cohort_ranks(deltas, KEYS, METRICS), KEYS, delta_cols
    )
    _chunk(monkeypatch, 11)
    got = ranks_wide(deltas, KEYS, METRICS, delta_cols)
    for _ in arrow_batches:
        _assert_frames_equal(expected, got)


def test_ranks_chunked_skewed_single_cohort(spark, arrow_batches, monkeypatch):
    # a cohort far larger than the chunk: the kernel must keep accumulating
    # (exact rank needs the whole cohort) and still produce exact ranks
    df = _mk_frame(spark, n_cohorts=1, rows_per_cohort=300, seed=5)
    expected = cohort_ranks(df, KEYS, METRICS)
    _chunk(monkeypatch, 8)
    got = ranks_wide(df, KEYS, METRICS, [])
    for _ in arrow_batches:
        _assert_frames_equal(expected, got)


def test_ranks_chunked_null_cohort_keys(spark, arrow_batches, monkeypatch):
    # null keys form their own cohort (dropna=False); the null-safe
    # boundary compare must not split or merge them
    df = _mk_frame(spark, n_cohorts=5, rows_per_cohort=20, seed=9).withColumn(
        "gov_function",
        F.when(F.col("state_code") == "S02", F.lit(None)).otherwise(
            F.col("gov_function")
        ),
    )
    expected = cohort_ranks(df, KEYS, METRICS)
    _chunk(monkeypatch, 13)
    got = ranks_wide(df, KEYS, METRICS, [])
    for _ in arrow_batches:
        _assert_frames_equal(expected, got)


_NO_PACKAGE_SCRIPT = """
import sys

sys.path.insert(0, sys.argv[1])  # the driver imports the package; workers cannot
from aspep_etl_spark.operators import windows
from aspep_etl_spark.session import get_spark

spark = get_spark(shuffle_partitions=2)


def probe(batches):
    import pandas as pd

    try:
        import aspep_etl_spark  # noqa: F401
        ok = True
    except ImportError:
        ok = False
    for _ in batches:
        pass
    yield pd.DataFrame({"ok": [ok]})


assert not any(r.ok for r in spark.range(2).mapInPandas(probe, "ok boolean").collect())
rows = [(f"S{i % 3}", 2000 + i, float(i % 5)) for i in range(30)]
df = spark.createDataFrame(rows, "state_code string, year int, m double")
windows.WIDE_CHUNK_ROWS = 4  # boundary scans and flushes run on the workers
deltas = windows.yoy_deltas_wide(df, ["state_code"], ["year"], ["m"])
ranked = windows.ranks_wide(deltas, ["year"], ["m"], ["m_1yr_abs"])
assert ranked.count() == 30
print("KERNELS_OK")
spark.stop()
"""


def test_kernels_run_where_workers_cannot_import_the_package(tmp_path):
    # The chunker and the derives are closures pickled by value; a
    # module-level helper would be pickled by reference and make every
    # Python worker import this package.  Run from outside the repo with
    # no PYTHONPATH so the workers cannot.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "kernels.py"
    script.write_text(textwrap.dedent(_NO_PACKAGE_SCRIPT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(script), repo],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "KERNELS_OK" in proc.stdout, proc.stderr[-4000:]
