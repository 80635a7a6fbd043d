"""Canonical schemas and column groups (SURVEY.md §1.4).

The reference's schema is dynamic/inferred (every year's workbook differs);
the engine instead declares the canonical fact schema once (schema-on-write)
and makes every ingest adapter map raw layouts into it.  Catalyst column
pruning and parquet predicate pushdown both depend on this being static.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Dimension / key columns of the ASPEP fact table.
DIM_COLS = ("state", "state_code", "region", "division", "state_scope", "gov_function")

# Base measures.  NOTE: `pt_hour` (legacy era, ≤2023) and `pt_hours`
# (2024 era) BOTH exist, each null for the other era — downstream ratio math
# uses only `pt_hour` (reference assets.py:346,352; SURVEY.md §7.2).
MEASURE_COLS = (
    "ft_employment",
    "ft_pay",
    "pt_employment",
    "pt_pay",
    "pt_hour",
    "pt_hours",
    "ft_eq_employment",
    "ft_pt_employment",
    "total_pay",
)

# Ratio metrics derived by derive_stats (reference assets.py:351-353).
RATIO_COLS = ("pay_per_fte", "pay_per_pt_hour", "pay_per_ft")

# The nine base metrics that fan out into delta/rank columns
# (reference assets.py:407-417).
BASE_METRIC_COLS = (
    "total_pay",
    "ft_eq_employment",
    "pt_pay",
    "pt_hour",
    "ft_pay",
    "ft_employment",
    "pay_per_fte",
    "pay_per_pt_hour",
    "pay_per_ft",
)

# Columns excluded from "numeric stat column" discovery
# (reference assets.py:362,421-430).  `index` is a reset_index() residue the
# reference drags along; the engine keeps it for row-identity parity.
STAT_EXCLUDE_COLS = (
    "index",
    "state",
    "gov_function",
    "state_code",
    "region",
    "division",
    "state_scope",
    "year",
)

DELTA_SUFFIXES = ("_1yr_pct", "_5yr_pct", "_1yr_abs", "_5yr_abs")


def aspep_raw_schema() -> T.StructType:
    """Adapter output before normalization: canonical names + year stamp,
    no derived dims yet (those come from ``plans.normalize_fact``)."""
    fields = [
        T.StructField("index", T.LongType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("gov_function", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
    ]
    fields += [T.StructField(c, T.DoubleType(), True) for c in MEASURE_COLS]
    return T.StructType(fields)


def census_dim_schema() -> T.StructType:
    """Broadcast dimension: state code → (full name, region, division).

    Reference loads this from a public CSV (resources.py:12-16); there is no
    `US` row — lookup-miss → null is load-bearing (FIXTURES.md §2).
    """
    return T.StructType(
        [
            T.StructField("state_code", T.StringType(), False),
            T.StructField("state", T.StringType(), True),
            T.StructField("region", T.StringType(), True),
            T.StructField("division", T.StringType(), True),
        ]
    )


def numeric_stat_cols(df_schema: T.StructType, exclude=STAT_EXCLUDE_COLS) -> list[str]:
    """Static equivalent of the reference's numeric-dtype column discovery
    (assets.py:362-363): numeric-typed fields minus the key/dim exclusions."""
    return [
        f.name
        for f in df_schema.fields
        if isinstance(f.dataType, T.NumericType) and f.name not in exclude
    ]
