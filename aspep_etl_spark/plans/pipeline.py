"""The ASPEP analytic pipelines as lazy Spark plans.

Reference asset DAG (process_aspep/definitions.py:23-27):
``scrape → download → combine_years → derive_stats → derive_extended_stats
→ publish``.  The scrape/download/Excel-parse stages live in ``sources/``;
this module holds the three dataflow stages, each a pure
DataFrame→DataFrame function so they compose into one lazy plan or persist
parquet between stages at scale.

Where the reference loops over pandas groups on a single process, every
stage here is shuffle-bounded:

- ``normalize_fact``      : 0 shuffles (map-only + broadcast joins)
- ``derive_stats``        : 1 shuffle  (fused median+mean aggregation)
- ``derive_extended_stats``: 2 shuffles (delta window on cohort keys, rank
                             windows on year/fn keys — all ~300 derived
                             columns ride those two exchanges)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import maps, schema
from ..functions.scalar import (
    classify_state_scope,
    normalize_dim,
    safe_ratio,
    upper_code,
)
from ..operators.filters import filter_significant, filter_year_range
from ..operators.recode import broadcast_dim_join, recode_values
from ..operators.stats import append_cohort_stats
from ..operators.windows import ranks_wide, yoy_deltas_wide


def normalize_fact(raw: DataFrame, census_dim: DataFrame | None = None) -> DataFrame:
    """Post-ingest normalization (reference assets.py:302-311): trim/lower
    dims, recode state + gov_function vocabularies, derive ``state_code``,
    attach census region/division via broadcast join, classify scope.

    ``raw`` must already carry canonical column names + a ``year`` column
    (the ingest adapters in ``sources/excel.py`` guarantee that).
    """
    df = raw.withColumns(
        {
            "gov_function": normalize_dim(F.col("gov_function")),
            "state": normalize_dim(F.col("state")),
        }
    )
    df = df.withColumns(
        {
            "state": recode_values(F.col("state"), maps.STATE_NAME_TO_CODE),
            "gov_function": recode_values(F.col("gov_function"), maps.GOV_FUNCTION_CANON),
        }
    )
    df = df.withColumn("state_code", upper_code(F.col("state")))
    if census_dim is not None:
        df = broadcast_dim_join(df, census_dim)
    df = df.withColumn("state_scope", classify_state_scope(F.col("state_code")))
    return filter_year_range(df, maps.START_YEAR, maps.END_YEAR)


def derive_stats(fact: DataFrame) -> DataFrame:
    """Ratio metrics + nationwide median/mean cohort rows
    (reference assets.py:336-385).

    - Safe ratios: zero or null divisor → null (F7).
    - Stats cohorts group by (year, gov_function) over non-US rows only,
      then union back labeled `US-median` / `US-mean`, scope `stats`.
    - The mean is the value-sorted ordered fold (``mean_ordered``): the
      stats stage aggregates the already-aggregated fact (≤ #states rows
      per cohort at any raw scale), and the fold makes the published
      stats bitwise reproducible across runs/partitionings — also what
      lets the full-chain DuckDB oracle hash-match (pipeline_oracle.py).
    """
    df = fact.withColumns(
        {
            "pay_per_fte": safe_ratio(F.col("total_pay"), F.col("ft_eq_employment")),
            "pay_per_pt_hour": safe_ratio(F.col("pt_pay"), F.col("pt_hour")),
            "pay_per_ft": safe_ratio(F.col("ft_pay"), F.col("ft_employment")),
        }
    )
    stat_cols = schema.numeric_stat_cols(df.schema)
    return append_cohort_stats(
        df,
        group_keys=["year", "gov_function"],
        stat_cols=stat_cols,
        exclude_filter=F.col("state_code") != "US",
        stat_labels={"median": "US-median", "mean_ordered": "US-mean"},
    )


def derive_extended_stats(stats_df: DataFrame) -> DataFrame:
    """YoY deltas + cohort and directional ranks + significance filter
    (reference assets.py:387-491).

    Plan shape: the delta stage shuffles on (state_code, gov_function); the
    rank stage shuffles on (year, gov_function) — two shuffles regardless of
    column count.  With ~9 base metrics this fans out to ~150 derived
    columns, computed by the Arrow-batched pandas kernels
    (``yoy_deltas_wide`` / ``ranks_wide``): stacked JVM window expressions
    grow Catalyst plan/codegen time with every column, the kernel plan is
    O(1) in column count (see PERF.md).  ``yoy_deltas_wide`` pins
    legacy-pandas ``pct_change`` semantics (ffill-padded ratio, ±inf on a
    zero base feeding the pos/neg ranks — see operators/windows.py), which
    only the pandas kernels express.
    """
    base_cols = [c for c in schema.BASE_METRIC_COLS if c in stats_df.columns]
    extra_numeric = [
        c
        for c in schema.numeric_stat_cols(stats_df.schema)
        if c not in base_cols
    ]
    metric_cols = base_cols + extra_numeric
    df = yoy_deltas_wide(stats_df, ["state_code", "gov_function"], ["year"], metric_cols)
    delta_cols = [c for c in df.columns if c.endswith(schema.DELTA_SUFFIXES)]
    # Cohorts intentionally include US / US-median / US-mean rows — the
    # reference ranks before any filtering (assets.py:457-474).
    df = ranks_wide(df, ["year", "gov_function"], metric_cols, delta_cols)

    # Parity note: the reference's significance filter scans *every* numeric
    # column — including `year` and `index` (pandas select_dtypes,
    # assets.py:480) — so any row with a year survives.  Reproduce, don't
    # sanitize (SURVEY.md §2.2 P8).
    numeric_cols = schema.numeric_stat_cols(df.schema, exclude=())
    return filter_significant(df, numeric_cols, threshold=1.0)
