"""Skew-mitigation utility: salted aggregation (engine-only scale
surface — no reference analog; SURVEY.md §6 north-star mandate,
PERF.md "Skew").

AQE's skew-join splitting (on in ``session.get_spark``) handles most
runtime skew; the explicit form here is for the case AQE can't fix —
a single hot grouping key whose partial aggregate still overwhelms one
task.

Pattern: two-phase aggregation.  Phase 1 groups on (key, salt) so the hot
key's rows spread over ``n_salts`` tasks and map-side combine still
applies; phase 2 re-aggregates the (much smaller) partials on the true
key.  Only algebraic aggregates (sum/count/min/max → avg) can be salted
this way; holistic ones (median) need AQE or pre-partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Uniform random-ish salt derived from a stable hash of the whole row
    (deterministic across retries — important for exactly-once sinks)."""
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_sum_count(
    df: DataFrame, group_keys: list[str], measure_cols: list[str], n_salts: int = 16
) -> DataFrame:
    """Two-phase salted aggregation producing sum/count/avg per key.

    Output columns: ``{c}_sum``, ``{c}_avg`` per measure plus ``n_rows``.
    """
    salted = with_salt(df, n_salts)
    phase1 = salted.groupBy(*group_keys, SALT_COL).agg(
        *[F.sum(c).alias(f"__s_{c}") for c in measure_cols],
        F.count("*").alias("__n"),
    )
    phase2 = phase1.groupBy(*group_keys).agg(
        *[F.sum(f"__s_{c}").alias(f"{c}_sum") for c in measure_cols],
        F.sum("__n").alias("n_rows"),
    )
    for c in measure_cols:
        phase2 = phase2.withColumn(f"{c}_avg", F.col(f"{c}_sum") / F.col("n_rows"))
    return phase2
