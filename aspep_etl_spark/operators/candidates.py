"""[EXT] Candidate-pair skeleton shared by the near-dup and ANN operators
(``operators/dedup.py``, ``operators/similarity.py``, SemDeDup): every
one of them generates a candidate-pair stream, fences it, de-duplicates
it and verifies it.  This module is the one place those four steps are
spelled out.

- **Generate.**  ``posting_pairs`` explodes posting lists into their
  sorted upper triangle; ``bucket_pairs`` self-joins bucket members.
  Both emit bare ``(id_a, id_b)`` with ``id_a < id_b``.
- **Fence.**  ``_fan``: a numbered repartition that AQE cannot coalesce
  (see its docstring).  Generation is fenced on the posting or bucket
  key, because a byte-tiny posting or bucket frame expands into the
  quadratic pair stream.
- **Dedup.**  ``dedup_pairs`` fences the pair stream on ``id_a`` and
  drops duplicates there.  Hash partitioning on ``id_a`` co-locates
  every copy of an ``(id_a, id_b)`` pair — subset-key partitioning
  satisfies the aggregate's clustered distribution — so the dedup needs
  no exchange of its own: one shuffle of the candidate stream, and the
  fence stays in place for the per-pair verify CPU downstream.
- **Verify.**  ``attach`` joins side columns onto both pair ends;
  ``verify`` then scores each pair with the caller's ``Column``, keeps
  the pairs at or above the threshold and projects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ``verify`` ends of a bare candidate stream: ``id_a`` side columns take
#: the ``_a`` suffix, ``id_b`` side columns the ``_b`` suffix.
PAIR_ENDS = {"id_a": "_a", "id_b": "_b"}


def _fan(df: DataFrame, *cols: str) -> DataFrame:
    """Force a candidate-pair frame onto full parallelism BEFORE a
    compute-heavy verify join.  AQE coalesces shuffle partitions by
    BYTE size — a bare-(id_a, id_b) candidate list is a few MB even
    when each row expands into an interpreted 64-element cosine/Jaccard
    fold after the vector/array attach, so AQE happily funnels millions
    of folds through 2 tasks (the sf1 rehearsal measured two 1100-second
    tasks in `dedup_embedding_cosine`'s verify stage, ~16× the whole
    query's budget).  An explicit numbered repartition is exempt from
    AQE coalescing and restores the cluster's parallelism at the cost
    of one cheap exchange of bare ids."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *[F.col(c) for c in cols])


def posting_pairs(posting: DataFrame, key: str, ids: str) -> DataFrame:
    """Every ``(id_a < id_b)`` pair inside each posting list ``ids``,
    fenced on the posting ``key``.  Each list is sorted ONCE before the
    pair transform — an ``array_sort`` inlined in the lambda re-sorts
    per element, O(k² log k) on the hot postings a frequency cap exists
    for.  Pairs shared by several postings repeat."""
    upper = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        _fan(posting, key).select(F.array_sort(ids).alias("ids"))
        .select(F.explode(upper).alias("p"))
        .select("p.id_a", "p.id_b")
    )


def bucket_pairs(members: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """Every ``(id_a < id_b)`` pair of ``members`` rows that agree on all
    bucket ``keys`` — a self-join on the keys, fenced on them.  Pairs
    sharing several buckets repeat."""
    left = members.select(F.col(id_col).alias("id_a"), *keys)
    right = members.select(F.col(id_col).alias("id_b"), *keys)
    return (
        _fan(left, *keys).join(right, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def dedup_pairs(pairs: DataFrame) -> DataFrame:
    """Distinct ``(id_a, id_b)``, riding the numbered ``id_a`` fence."""
    return _fan(pairs, "id_a").dropDuplicates(["id_a", "id_b"])


def attach(
    pairs: DataFrame,
    sides: tuple[DataFrame, DataFrame],
    id_col: str,
    ends: dict[str, str],
    cols: dict[str, str],
) -> DataFrame:
    """Join a side frame at each pair end.  ``ends`` maps each pair
    column, in join order, to a suffix; the matching frame of ``sides``
    is joined there on ``id_col``, and its column ``c`` arrives as
    ``cols[c] + suffix``."""
    for side, (end, suffix) in zip(sides, ends.items()):
        renamed = [F.col(c).alias(alias + suffix) for c, alias in cols.items()]
        pairs = pairs.join(side.select(F.col(id_col).alias(end), *renamed), end)
    return pairs


def verify(
    pairs: DataFrame,
    sides: tuple[DataFrame, DataFrame],
    id_col: str,
    ends: dict[str, str],
    cols: dict[str, str],
    scores: dict[str, Column],
    threshold: float,
    out: list,
) -> DataFrame:
    """``attach`` the sides, then score the pairs and keep those scoring
    ``>= threshold``.  ``scores`` are added in order, each free to read
    the ones before it; the last one is the pair score.  ``out`` is the
    final projection."""
    pairs = attach(pairs, sides, id_col, ends, cols)
    for name, score in scores.items():
        pairs = pairs.withColumn(name, score)
    return pairs.filter(F.col(name) >= threshold).select(*out)
