"""Full-chain ASPEP pipeline oracle (plans/pipeline_oracle.py).

The hash-exact cross-engine run itself is the correctness gate
(tools/check_correctness.py `aspep_extended_pipeline`, exact at sf0.001 /
0.01 / 0.1); these tests pin the structural invariants that make it work.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_oracle_column_set_matches_spark_schema(spark, sf_dir):
    """The generated 130-column SQL and the Spark chain agree on names —
    a drifted loop (new metric, renamed suffix) fails here, not in the
    driver's hash gate."""
    from aspep_etl_spark.plans.contract import aspep_extended_pipeline
    from aspep_etl_spark.plans.pipeline_oracle import ASPEP_PIPELINE_SQL

    sdf = aspep_extended_pipeline(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    odf = con.execute(f"SELECT * FROM ({ASPEP_PIPELINE_SQL}) LIMIT 0").df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf.columns) == 130


def test_fact_measures_integer_valued(spark, sf_dir):
    """The quantized fact build really lands on the integer grid — the
    property every downstream exactness claim (order-independent sums,
    exact medians/means) rests on."""
    from aspep_etl_spark.plans.contract import aspep_extended_pipeline

    out = aspep_extended_pipeline(spark, sf_dir)
    fact_rows = out.filter(F.col("state_scope").isNull())
    checks = fact_rows.select(
        *[
            F.max(F.abs(F.col(c) - F.round(F.col(c), 0))).alias(c)
            for c in (
                "total_pay", "ft_eq_employment", "pt_pay",
                "pt_hour", "ft_pay", "ft_employment",
            )
        ]
    ).first()
    assert all(v == 0.0 for v in checks.asDict().values()), checks.asDict()


def test_mean_ordered_matches_avg_and_is_partitioning_invariant(spark):
    """mean_ordered: value-sorted fold == plain avg within float noise,
    and bitwise identical to itself under a different partitioning —
    the reproducibility property plain F.avg does not have."""
    from aspep_etl_spark.operators.stats import grouped_stats

    pdf = pd.DataFrame(
        {
            "k": [i % 3 for i in range(400)],
            "v": [((i * 37) % 101) / 7.0 for i in range(400)],
        }
    )
    df = spark.createDataFrame(pdf)

    def means(frame):
        out = grouped_stats(frame, ["k"], ["v"], stats=("mean_ordered",))
        return {
            r["k"]: r["__mean_ordered__v"] for r in out.collect()
        }

    m1 = means(df.repartition(1))
    m32 = means(df.repartition(32, "v"))
    assert m1 == m32  # bitwise equal across partitionings

    plain = {
        r["k"]: r["m"]
        for r in df.groupBy("k").agg(F.avg("v").alias("m")).collect()
    }
    for k, v in m1.items():
        assert v == pytest.approx(plain[k], rel=1e-12)


def test_mean_ordered_empty_group_is_null(spark):
    from aspep_etl_spark.operators.stats import grouped_stats

    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 5.0)], "k int, v double"
    )
    out = {
        r["k"]: r["__mean_ordered__v"]
        for r in grouped_stats(df, ["k"], ["v"], stats=("mean_ordered",)).collect()
    }
    assert out[1] is None and out[2] == 5.0
