"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ASPEP-shaped ratio+rank query at
sf0.001; ``queries()``/``oracle_sql()`` expose every implemented operator
from SURVEY.md §2 plus the [EXT] surface, each verified against its DuckDB
twin at sf0.01 (see ``aspep_etl_spark/plans/contract.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from aspep_etl_spark.plans.contract import flagship_ratio_rank

    return flagship_ratio_rank(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for every ``queries()`` entry, under the same name."""
    from aspep_etl_spark.plans.contract import ORACLE_SQL

    return dict(ORACLE_SQL)
