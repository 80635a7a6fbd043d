"""Scale utilities: salted aggregation equivalence, dynamic-partition
upsert idempotence, and bucketed co-located joins (no-shuffle plan)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.operators.skew import salted_sum_count
from aspep_etl_spark.sinks.publish import upsert_year_partitions, write_canonical_store


def test_salted_sum_count_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = salted_sum_count(li, ["l_returnflag"], ["l_quantity"], n_salts=16)
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("s"), F.count("*").alias("n")
    )
    s = {r["l_returnflag"]: (r["l_quantity_sum"], r["n_rows"]) for r in salted.collect()}
    p = {r["l_returnflag"]: (r["s"], r["n"]) for r in plain.collect()}
    assert set(s) == set(p)
    for k in p:
        assert s[k][1] == p[k][1]
        assert abs(s[k][0] - p[k][0]) < 1e-6 * max(1.0, abs(p[k][0]))


def test_upsert_year_partitions_idempotent_refresh(spark, tmp_path):
    path = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "year": [2003, 2003, 2004, 2004], "v": [1.0] * 4})
    )
    write_canonical_store(v1, path)

    # refresh ONLY 2004 with corrected values; 2003 must survive untouched
    v2 = spark.createDataFrame(
        pd.DataFrame({"id": [30, 40], "year": [2004, 2004], "v": [9.0, 9.0]})
    )
    upsert_year_partitions(v2, path)
    back = spark.read.parquet(path)
    assert back.filter("year = 2003").count() == 2
    got_2004 = sorted(r["id"] for r in back.filter("year = 2004").collect())
    assert got_2004 == [30, 40]

    # re-running the same upsert converges (idempotent); fresh read — the
    # old DataFrame's file listing is stale after the overwrite
    upsert_year_partitions(v2, path)
    assert spark.read.parquet(path).filter("year = 2004").count() == 2


@pytest.mark.filterwarnings("ignore")
def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketed tables on the join key co-locate matching rows: the
    sort-merge join runs with ZERO Exchange operators — the stored layout
    IS the shuffle, paid once at write time (the 100 TB co-located-join
    strategy)."""
    import contextlib
    import io

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.selectExpr("l_orderkey", "l_quantity").write.mode("overwrite").bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").saveAsTable("b_lineitem")

    # sf-scale tables auto-broadcast, hiding the bucketed path; disable to
    # see the plan a 100 TB fact-fact join would get
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(mode="simple")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

def test_register_views_sql_surface(spark, sf_dir):
    """register_views publishes the canonical names for plain spark.sql,
    with the events nanos-timestamp wrinkle normalized, and skips absent
    tables instead of failing."""
    from pyspark.sql import functions as F

    from aspep_etl_spark.sources.registry import register_views

    names = register_views(spark, sf_dir)
    assert set(names) >= {"lineitem", "orders", "events", "documents"}
    row = spark.sql(
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "GROUP BY 1 ORDER BY 1 LIMIT 1"
    ).collect()[0]
    assert row["n"] > 0
    # events.ts must arrive as a usable timestamp through the view
    ts_type = dict(spark.sql("SELECT ts FROM events").dtypes)["ts"]
    assert ts_type == "timestamp"
    assert spark.sql("SELECT max(ts) FROM events").collect()[0][0] is not None
    # subset dirs: nonexistent tables are skipped
    import tempfile

    empty = tempfile.mkdtemp()
    assert register_views(spark, empty) == []
