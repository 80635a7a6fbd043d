"""Value recodes and dimension lookups (SURVEY.md §2.3, J1-J3).

Two physical strategies for the same logical operator:

- ``recode_values``: the map is compiled into one SQL ``map(…)`` literal
  (its strings quoted by ``functions.scalar.sql_quote``) — zero shuffle,
  zero join, constant-folded by Catalyst, and one JVM call however many
  entries it has.  Right choice for maps up to a few thousand entries
  (ours are ≤64).
- ``recode_via_join``: the map becomes a broadcast-joined lookup table.
  Right choice when the vocabulary itself is a table (or too big for a
  literal expression).

Both preserve the reference's pass-through semantics: values not present in
the map survive unchanged (pandas ``df.replace``, assets.py:306) — hence the
``coalesce(lookup, original)``.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import sql_quote


def recode_values(col: Column, mapping: dict[str, str]) -> Column:
    """Exact-match value recode with pass-through (J2/J3) as a literal map
    expression evaluated entirely inside codegen.  The map is one
    ``F.expr``.  An empty mapping passes every value through (an empty
    ``map()`` has key type VOID, which no column can index)."""
    if not mapping:
        return col
    entries = ", ".join(sql_quote(x) for x in chain.from_iterable(mapping.items()))
    return F.coalesce(F.expr(f"map({entries})")[col], col)


def recode_via_join(
    df: DataFrame, col: str, mapping_df: DataFrame, key: str = "variant", value: str = "canonical"
) -> DataFrame:
    """Recode through a broadcast lookup table; pass-through on miss.

    ``mapping_df`` is (variant, canonical).  The join is broadcast so the
    fact side never shuffles; at 100 TB this is the only acceptable plan for
    a vocabulary lookup.
    """
    lut = mapping_df.select(
        F.col(key).alias("__recode_key"), F.col(value).alias("__recode_val")
    )
    out = df.join(F.broadcast(lut), df[col] == F.col("__recode_key"), "left")
    return out.withColumn(col, F.coalesce(F.col("__recode_val"), F.col(col))).drop(
        "__recode_key", "__recode_val"
    )


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str = "state_code",
    dim_key: str = "state_code",
    payload: tuple[str, ...] = ("state", "region", "division"),
) -> DataFrame:
    """Left-outer broadcast hash join against a small dimension (J1).

    Parity with the reference's dict lookup (assets.py:309-310): payload
    columns on the fact side are **overwritten** by the dim values; a missing
    key (e.g. the `US` rollup) yields nulls for all payload columns.
    """
    dim_renamed = dim.select(
        F.col(dim_key).alias("__dim_key"),
        *[F.col(c).alias(f"__dim_{c}") for c in payload],
    )
    out = fact.drop(*payload).join(
        F.broadcast(dim_renamed), fact[fact_key] == F.col("__dim_key"), "left"
    )
    for c in payload:
        out = out.withColumnRenamed(f"__dim_{c}", c)
    return out.drop("__dim_key")
