"""Scale-adaptive scan fan-out (``sources.registry.fan_for_compute``).

r12: the sf1 headline probe showed the compute-heavy-over-compact-input
slots (text_quality, docs_dsir_weights, docs_classifier_score,
ann_cosine_topk) stuck at core-scaling ratio ≈ 1 — their inputs are
single-row-group parquet files, so the scan (and everything fused onto
it) runs as ONE effective task regardless of byte splits.  The fan
redistributes rows across the session's cores, but ONLY when the input
is big enough to pay for the exchange (≥ 2 MB measured floor) and the
scan is genuinely undersubscribed; otherwise the plan is byte-identical
to r11's.  These tests pin both sides of that switch and the row-set
parity of the fanned path.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from aspep_etl_spark.plans import contract
from aspep_etl_spark.sources.registry import fan_for_compute, load_table


def plan_of(df, mode: str = "simple") -> str:
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    # expression ids differ between two loads of the same file; the
    # SHAPE is what the no-op pin is about
    return re.sub(r"#\d+", "#", buf.getvalue())


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


FANNED_QUERIES = (
    "text_quality",
    "docs_dsir_weights",
    "docs_classifier_score",
    "ann_cosine_topk",
    # fanned on the dw-build branch only (the regex+explode single-task
    # stage the r12 event-log capture named)
    "docs_nb_crossval_capped",
    # r12b tier adoptions: the token/bucket materialization branches —
    # integer-exact aggregation throughout, so order is invisible
    "docs_nb_crossval",
    "docs_logreg_train",
)


def test_fan_is_noop_below_size_floor(spark, sf):
    """At the test SF every input is far under the 2 MB floor: the fanned
    loader must return the identical plan (the r11 shapes — including the
    docs_classifier_score zero-Exchange pin — hold wherever the fan does
    not fire)."""
    base = load_table(spark, sf, "documents")
    fanned = fan_for_compute(load_table(spark, sf, "documents"))
    assert plan_of(fanned) == plan_of(base)


def test_fan_fires_when_forced_and_preserves_rows(spark, sf, monkeypatch):
    """With the size floor lowered to 1 byte the single-split scan is
    undersubscribed (1 effective task, 4 cores) and the fan must insert
    exactly one round-robin exchange at the session's parallelism — and
    the row SET must be unchanged."""
    monkeypatch.setenv("SPARK_GRAFT_FAN_MIN_BYTES", "1")
    base = load_table(spark, sf, "documents")
    fanned = fan_for_compute(load_table(spark, sf, "documents"))
    plan = plan_of(fanned)
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
    par = spark.sparkContext.defaultParallelism
    assert fanned.rdd.getNumPartitions() == par
    a = sorted(r["doc_id"] for r in base.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in fanned.select("doc_id").collect())
    assert a == b


def test_fan_skips_subscribed_scans(spark, tmp_path, monkeypatch):
    """A scan whose effective parallelism (row groups × splits) already
    covers >= cores/2 must not be re-exchanged even above the size floor
    — the 100 TB posture (splits >> cores) is the no-op branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_FAN_MIN_BYTES", "1")
    path = str(tmp_path / "wide.parquet")
    n = 10_000
    pq.write_table(
        pa.table({"id": list(range(n)), "v": [float(i) for i in range(n)]}),
        path,
        row_group_size=n // 8,  # 8 row groups: genuinely splittable
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        df = spark.read.parquet(path)
        par = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() * 2 > par  # premise: subscribed
        out = fan_for_compute(df)
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fanned_queries_match_unfanned_results(spark, sf, monkeypatch):
    """Forcing the fan on at the test SF must not change any fanned
    query's result set (every consumer aggregates/ranks downstream, so
    round-robin row placement is invisible in the output)."""
    baselines = {}
    for name in FANNED_QUERIES:
        df = contract.SPARK_QUERIES[name](spark, sf)
        baselines[name] = sorted(map(tuple, df.collect()))
    monkeypatch.setenv("SPARK_GRAFT_FAN_MIN_BYTES", "1")
    for name in FANNED_QUERIES:
        df = contract.SPARK_QUERIES[name](spark, sf)
        assert sorted(map(tuple, df.collect())) == baselines[name], name
