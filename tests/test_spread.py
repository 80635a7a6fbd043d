"""Regression pin for the scan fan's row-group starvation fix, called
here as the dedup operators call it: ``_spread`` is
``sources.registry.fan_for_compute`` with no size floor.

The r9 sf10 probe caught a real 30x-wall scale bug: the scheduler
byte-splits a parquet file into ``size/maxPartitionBytes`` ranges, but
parquet readers consume whole ROW GROUPS — a 59.5 MB single file with 5
row groups "split" into 32 partitions fed only 5 busy tasks while 27
came up empty, and ``_spread``'s partition-COUNT check was satisfied so
it never repartitioned.  The fix reads the real row-group count from
the local footers on the few-file path.  These tests fail if that
footer-reading branch is ever removed:

- a single file with FEWER row groups than ``defaultParallelism``, byte
  split into >= par scan partitions, MUST come out repartitioned;
- a single file with ENOUGH row groups must pass through untouched
  (identity — no gratuitous exchange on a healthy scan);
- a many-file input must short-circuit before any footer read
  (identity), because at lake scale inputs are thousands of files.
"""

from __future__ import annotations

import os
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.sources.registry import fan_for_compute

_spread = partial(fan_for_compute, min_bytes=0)


def _write_one_file(path: str, n_rows: int, row_group_size: int) -> None:
    # wide-ish string payload so the file is big enough to byte-split
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_rows), type=pa.int64()),
            "text": pa.array(
                ["the quick brown fox %d " % i * 40 for i in range(n_rows)]
            ),
        }
    )
    pq.write_table(tbl, path, row_group_size=row_group_size)


@pytest.fixture()
def tight_splits(spark):
    """Byte-split scans aggressively so a single small file presents
    >= defaultParallelism scan partitions (the lying-proxy setup)."""
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    yield
    spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
    spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_spread_repartitions_starved_row_groups(spark, tight_splits, tmp_path):
    """One file, 2 row groups, byte-split into >= par partitions: the
    partition count lies (only 2 tasks would ever see rows) and the
    footer branch must force a RoundRobin spread to full parallelism."""
    par = spark.sparkContext.defaultParallelism
    f = str(tmp_path / "starved.parquet")
    _write_one_file(f, n_rows=2000, row_group_size=1000)
    assert pq.ParquetFile(f).metadata.num_row_groups == 2 < par

    df = spark.read.parquet(f)
    scan_parts = df.rdd.getNumPartitions()
    assert scan_parts >= par, (
        f"setup failed: scan presents {scan_parts} partitions, need >= {par} "
        "so the count check alone would (wrongly) pass through"
    )

    out = _spread(df)
    assert out is not df, "footer branch removed: starved scan passed through"
    assert out.rdd.getNumPartitions() == par
    # the spread must be row-preserving
    assert out.count() == 2000

    # and the rows must actually land spread out, not on 2 partitions
    busy = (
        out.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .count()
    )
    assert busy > 2


def test_spread_noop_on_healthy_row_groups(spark, tight_splits, tmp_path):
    """One file whose real row-group count covers the parallelism: no
    gratuitous exchange — _spread must return the input identically."""
    par = spark.sparkContext.defaultParallelism
    f = str(tmp_path / "healthy.parquet")
    _write_one_file(f, n_rows=2000, row_group_size=100)  # 20 row groups
    assert pq.ParquetFile(f).metadata.num_row_groups >= par

    df = spark.read.parquet(f)
    assert df.rdd.getNumPartitions() >= par
    assert _spread(df) is df


def test_spread_noop_on_many_files(spark, tight_splits, tmp_path):
    """A many-file input (>= par files) short-circuits before any footer
    read — the lake-scale path must never pay driver-side metadata I/O."""
    par = spark.sparkContext.defaultParallelism
    d = str(tmp_path / "many")
    os.makedirs(d)
    for i in range(par * 2):
        _write_one_file(os.path.join(d, f"part-{i:02d}.parquet"), 200, 200)

    df = spark.read.parquet(d)
    assert len(df.inputFiles()) >= par
    assert df.rdd.getNumPartitions() >= par
    assert _spread(df) is df


def test_spread_repartitions_undersplit_scan(spark, tmp_path):
    """The original (pre-row-group) branch: a scan with fewer partitions
    than the parallelism spreads unconditionally."""
    par = spark.sparkContext.defaultParallelism
    f = str(tmp_path / "small.parquet")
    _write_one_file(f, n_rows=50, row_group_size=50)

    df = spark.read.parquet(f)  # tiny file -> 1 split
    assert df.rdd.getNumPartitions() < par
    assert _spread(df).rdd.getNumPartitions() == par


def test_shingle_family_rides_spread_not_unconditional_repartition(
    spark, tight_splits, tmp_path
):
    """r12: the shingle-family entry points (``shingles``,
    ``jaccard_pairs``' array build, ``substring_span_dedup``,
    ``jaccard_prefix_filter_pairs``, incremental corpus side) used an
    UNCONDITIONAL ``repartition(par)`` — on a healthy lake scan
    (partitions >= cores, real row groups behind them) that is a
    full-corpus payload shuffle for nothing, and at 100 TB it would also
    REDUCE parallelism to the local core count.  They now ride
    ``_spread``: this pins that a healthy input reaches the regex stage
    with NO RoundRobin exchange, while the starved single-split input
    still spreads (behavior identical to the old code exactly where the
    old code was right)."""
    import contextlib
    import io

    from aspep_etl_spark.operators.dedup import shingles

    par = spark.sparkContext.defaultParallelism
    f = str(tmp_path / "healthy2.parquet")
    _write_one_file(f, n_rows=2000, row_group_size=100)  # 20 row groups
    df = spark.read.parquet(f)
    assert df.rdd.getNumPartitions() >= par

    sh = shingles(df, "doc_id", "text", n=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sh.explain(mode="simple")
    plan = buf.getvalue()
    assert "RoundRobinPartitioning" not in plan and "REPARTITION_BY_NUM" not in plan, (
        "healthy scan paid the shuffle the _spread conversion removed"
    )

    tiny = str(tmp_path / "tiny2.parquet")
    _write_one_file(tiny, n_rows=50, row_group_size=50)
    df_t = spark.read.parquet(tiny)
    sh_t = shingles(df_t, "doc_id", "text", n=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sh_t.explain(mode="simple")
    assert "RoundRobinPartitioning" in buf.getvalue()
