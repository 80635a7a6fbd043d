"""Scalar expression builders (SURVEY.md §2.8, operators F1-F10).

All hot-path functions return Column expressions built from
``pyspark.sql.functions`` so they stay inside whole-stage codegen — no
row-at-a-time Python UDFs.  ``slugify_py`` is the one driver-side helper
(used only while collapsing raw Excel header grids, pre-schema).

Each ``F.*`` call costs about three py4j round trips (look up
``functions``, look up the member, call it), so an expression over N
columns built with the Column API costs ~3N or more.  A per-column
fan-out is instead written as ONE SQL expression string whose
identifiers and string literals go through ``sql_quote``, and handed to
the JVM in one ``F.expr``; Catalyst resolves it to the same plan.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_quote(text: str, ident: bool = False) -> str:
    """Quote ``text`` for a Spark SQL expression string.

    ``ident=True`` gives a backtick-quoted identifier (a backtick inside is
    doubled), so a column name with spaces, dots or backticks names that
    one top-level column.  Otherwise a single-quoted string literal, with
    backslash and quote backslash-escaped the way the default parser
    unescapes them (any other character, non-ASCII included, is literal).
    """
    if ident:
        return "`" + text.replace("`", "``") + "`"
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def slugify_py(text: object) -> str:
    """Driver-side slugify for raw header cells: whitespace→_, strip
    non-alphanumerics, NFKD→ascii, lowercase.

    Parity: reference assets.py:42-48 (same operation order — the NFKD
    normalize runs *after* the ascii strip, so its effect is a no-op on
    already-stripped text; kept to preserve byte-identical headers).
    """
    s = str(text)
    s = re.sub(r"\s+", "_", s.strip())
    s = re.sub(r"[^a-zA-Z0-9_]", "", s)
    s = unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode("utf-8")
    return s.lower()


def slugify_expr(col: Column) -> Column:
    """Distributed slugify (F1) as a codegen-friendly expression chain.

    The reference strips to ``[a-zA-Z0-9_]`` *before* its NFKD step, so
    accented characters are removed, not transliterated — `regexp_replace`
    reproduces that exactly without a Python UDF.  ``(?U)`` makes Java's
    ``\\s`` unicode-aware like Python's (non-breaking/em spaces count as
    whitespace), and the edge-trim regex replicates unicode ``str.strip()``.
    """
    s = F.regexp_replace(col.cast("string"), r"(?U)(^\s+|\s+$)", "")
    s = F.regexp_replace(s, r"(?U)\s+", "_")
    s = F.regexp_replace(s, r"[^a-zA-Z0-9_]", "")
    return F.lower(s)


def cleanse_numeric(col: Column) -> Column:
    """Dirty-numeric cleanse + coerce (F5): strip thousands separators,
    unify Unicode minus/dash variants to ``-``, turn accounting negatives
    ``(1,234)`` into ``-1234``, then cast — unparseable → null (pandas
    ``to_numeric(errors="coerce")`` parity, reference assets.py:154-163).
    """
    s = F.regexp_replace(col.cast("string"), ",", "")
    s = F.regexp_replace(s, "[−–—]", "-")  # − – — → -
    s = F.regexp_replace(s, r"^\((.+)\)$", "-$1")
    # try_cast = pandas errors="coerce" under Spark's default ANSI mode
    return s.try_cast("double")


def safe_ratio(numer: Column, denom: Column) -> Column:
    """Division with pandas parity (F7): zero divisor → null (not inf),
    null propagates.  Reference assets.py:351-356 maps 0→NaN pre-divide and
    ±inf→NaN post-divide; guarding the divisor reproduces both at once.
    """
    return F.when(denom != 0, numer / denom)


def normalize_dim(col: Column) -> Column:
    """Trim + lowercase dimension normalize (F3, reference assets.py:304-305)."""
    return F.lower(F.trim(col))


def upper_code(col: Column) -> Column:
    """Uppercase state code (F4, reference assets.py:307)."""
    return F.upper(col)


def classify_state_scope(code_col: Column) -> Column:
    """`national` for the US rollup row, else `state` (F8, assets.py:35-39).
    Aggregate pseudo-rows get a literal `stats` at union time (A3)."""
    return F.when(code_col == "US", F.lit("national")).otherwise(F.lit("state"))


def max_abs_numeric(cols: list[str]) -> Column:
    """Row-wise max(|numeric cols|) (A4, reference assets.py:480) — a scalar
    `greatest` chain, not a shuffle.  Nulls are ignored per pandas
    ``max(axis=1)`` skipna semantics (greatest skips nulls too).  One
    ``F.expr`` whatever the column count (the significance filter spans
    ~300 columns)."""
    terms = ", ".join(f"abs({sql_quote(c, ident=True)})" for c in cols)
    return F.expr(terms if len(cols) == 1 else f"greatest({terms})")
