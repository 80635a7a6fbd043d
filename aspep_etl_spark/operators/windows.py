"""Window operators (SURVEY.md §2.5, W1-W4) with pandas-parity semantics.

The reference computes these with a driver-side groupby loop
(assets.py:440-447) — one pandas frame per (state, gov_function) cohort.
Here each family of derived columns is a set of window expressions over ONE
DataFrame: Spark shuffles once per distinct (partitionBy, orderBy) pair and
evaluates every column in that family in a single pass, so the ~100-column
fan-out costs two shuffles total (deltas on cohort keys, ranks on year/fn
keys) regardless of data size.  The wide fan-outs (``yoy_deltas_wide``,
``ranks_wide``) run the same two shuffles as Arrow kernels on one
whole-cohort skeleton, ``_cohort_kernel``.

Semantics pinned by SURVEY.md §7.1:

- Lags are **positional** within the sorted cohort (pandas ``shift``), not
  year-arithmetic: a gap year makes "1yr" compare to the previous *available*
  row.  ``F.lag(c, k)`` over an ordered window is exactly that.
- "5yr" is lag **4** (reference assets.py:444,446).
- pandas ``rank(method="min", ascending=False)`` = SQL RANK() DESC for ties,
  but pandas leaves NaN **unranked and uncounted**.  We reproduce that by
  ranking inside a sub-partition that quarantines nulls (no join-back, no
  second shuffle).
- Directional ranks rank only the matching-sign rows (reference
  ``df.where(...)`` blanks non-matching rows out of the groupby,
  assets.py:463-474).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: The positional lags of the W1/W2 deltas and their column labels ("5yr"
#: is lag 4, reference assets.py:444,446); both delta forms read this table.
LAG_LABELS = {1: "1yr", 4: "5yr"}


def yoy_deltas(
    df: DataFrame,
    cohort_keys: list[str],
    order_keys: list[str],
    metric_cols: list[str],
) -> DataFrame:
    """Positional lag deltas (W1/W2): for every metric and every lag k in
    ``LAG_LABELS`` emit ``{col}_{label}_pct`` = cur/lag(k) - 1  (null when
    the lagged value is 0 or absent) and ``{col}_{label}_abs`` = cur - lag(k).

    One window spec → one shuffle+sort evaluates all len(metrics)×len(lags)×2
    columns.
    """
    w = Window.partitionBy(*cohort_keys).orderBy(*order_keys)
    cols = {}
    for c in metric_cols:
        for k, lbl in LAG_LABELS.items():
            prev = F.lag(F.col(c), k).over(w)
            cols[f"{c}_{lbl}_pct"] = F.when(prev != 0, F.col(c) / prev - 1)
            cols[f"{c}_{lbl}_abs"] = F.col(c) - prev
    return df.withColumns(cols)


#: Rows buffered per kernel invocation before complete cohorts are flushed.
#: Bounds kernel memory at ~chunk + largest cohort regardless of partition
#: size (a skewed cohort key can put an arbitrary fraction of the data in
#: one shuffle partition — the kernel must stream, not concat the
#: partition).  Read when the plan is built.
WIDE_CHUNK_ROWS = 1 << 16


def _cohort_kernel(
    df: DataFrame,
    cohort_keys: list[str],
    order_keys: list[str],
    new_cols: list[str],
    derive,
) -> DataFrame:
    """``df`` plus the double columns ``new_cols``, computed by
    ``derive(pdf) -> {col: Series}`` over whole cohort runs in ONE Arrow
    kernel — the skeleton of both wide kernels.

    One shuffle on the cohort keys, rows sorted (cohort, order) within
    each partition, one ``mapInPandas``.  The kernel accumulates Arrow
    batches; once the buffer passes ``WIDE_CHUNK_ROWS`` it flushes every
    COMPLETE cohort run through ``derive`` (a fresh RangeIndex, vectorized
    across all cohorts in the chunk at once) and carries the open run
    into the next chunk.  ``derive`` never sees part of a cohort, so a
    per-cohort pandas groupby needs no carry.  Memory is bounded by one
    chunk plus the largest cohort — not the whole partition — and a
    skewed cohort KEY (many cohorts hashed to one partition) streams
    fine.  (A per-group ``applyInPandas`` costs ~10 ms of pandas overhead
    per cohort — ruinous with thousands of small cohorts.)

    Like every kernel, the chunker reaches the workers by value (the
    package registers itself with cloudpickle in ``__init__``), so
    ``derive`` may call module-level helpers.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(c, T.DoubleType(), True) for c in new_cols]
    )
    out_names = out_schema.fieldNames()
    keys = list(cohort_keys)
    flush_at = WIDE_CHUNK_ROWS

    def joined(frames):
        return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    def emit(pdf):
        pdf = pdf.reset_index(drop=True)
        return pd.concat([pdf, pd.DataFrame(derive(pdf))], axis=1)[out_names]

    def run_starts(kf, prev_last):
        """Boolean ndarray: row i starts a new cohort run (null-safe key
        compare against row i−1; row 0 compares against ``prev_last``, the
        key tuple of the previous batch's final row)."""
        cur = kf.reset_index(drop=True)
        prev = cur.shift(1)
        if prev_last is not None:
            prev.iloc[0] = prev_last
        changed = np.zeros(len(cur), dtype=bool)
        for k in keys:
            a, b = cur[k], prev[k]
            changed |= ((a != b) & ~(a.isna() & b.isna())).to_numpy()
        if prev_last is None:
            changed[0] = False  # partition's first row: no boundary before it
        return changed

    def kernel(batches):
        # Boundaries are scanned LAZILY: only once the buffer has crossed
        # the chunk size, so a partition smaller than one chunk pays zero
        # scan work.  Each batch is scanned at most once and the buffer is
        # concatenated only at a flush — one giant cohort stays O(rows)
        # total, its memory degrading to that cohort.
        buf, n = [], 0
        scanned = 0  # batches in buf whose boundaries are already known
        cut = 0  # buffer-global start index of the last OPEN cohort
        prev_last = None
        for b in batches:
            if not len(b):
                continue
            buf.append(b)
            n += len(b)
            if n < flush_at:
                continue
            base = sum(len(x) for x in buf[:scanned])
            for x in buf[scanned:]:
                idx = np.nonzero(run_starts(x[keys], prev_last))[0]
                if len(idx):
                    cut = base + int(idx[-1])
                prev_last = x[keys].iloc[-1]
                base += len(x)
            scanned = len(buf)
            # no boundary yet: the whole buffer is one cohort, keep going
            if cut:
                pdf = joined(buf)
                yield emit(pdf.iloc[:cut])
                rest = pdf.iloc[cut:]
                buf, n, scanned, cut = [rest], len(rest), 1, 0
        if n:
            yield emit(joined(buf))

    ordered = df.repartition(*keys).sortWithinPartitions(*keys, *order_keys)
    return ordered.mapInPandas(kernel, schema=out_schema)


def yoy_deltas_wide(
    df: DataFrame,
    cohort_keys: list[str],
    order_keys: list[str],
    metric_cols: list[str],
) -> DataFrame:
    """Wide-fan-out twin of ``yoy_deltas`` on ``_cohort_kernel``, with
    legacy-pandas ``pct_change`` semantics for the ``_pct`` columns.

    Same single shuffle on the cohort keys, but above a few dozen derived
    columns Catalyst plan/codegen time dominates the stacked-window
    expression form — the kernel keeps the plan O(1) in column count.
    Each flush runs one pandas ``groupby().shift()`` per lag across all
    metric columns of every cohort in the chunk.  A whole cohort holds its
    own lag window and ffill state, so chunking is invisible to the
    semantics (pinned by the wide-kernel tests).  Memory is one chunk
    plus the largest cohort: the job's (state, gov_function) cohorts are
    one row per year — at most 22 rows in ASPEP and 7 in
    ``aspep_extended_pipeline``.

    ``_pct`` reproduces legacy-pandas ``pct_change`` (reference
    assets.py:443-444): the series is forward-filled BEFORE the ratio
    (default ``fill_method="pad"`` — both numerator and shifted
    denominator are padded across NaN gaps) and a zero base yields ±inf
    (0→0 yields NaN), which then participates in the reference's pos/neg
    delta ranks (±inf takes rank 1 on its side).  ``_abs`` columns are
    plain ``diff`` — never padded — exactly as in ``yoy_deltas``.  JSON
    publish maps inf→null at the boundary (sinks/publish.py), matching the
    reference's artifact after its own inf-replace.
    """
    import numpy as np

    keys = list(cohort_keys)
    new_cols = [
        f"{c}_{lbl}_{kind}"
        for c in metric_cols
        for lbl in LAG_LABELS.values()
        for kind in ("pct", "abs")
    ]

    def derive(pdf):
        # one groupby pass per lag across ALL metric columns (a per-column
        # Series.groupby costs ~37x the group-dispatch overhead)
        g = pdf.groupby(keys, sort=False, dropna=False)[metric_cols]
        base = pdf[metric_cols].astype(float)
        filled = g.ffill().astype(float)
        fg = filled.groupby([pdf[k] for k in keys], sort=False, dropna=False)
        add = {}
        for k, lbl in LAG_LABELS.items():
            with np.errstate(divide="ignore", invalid="ignore"):
                # legacy pct_change: padded num AND denom, ±inf kept
                pct = filled / fg.shift(k) - 1
            diff = base - g.shift(k).astype(float)
            for c in metric_cols:
                add[f"{c}_{lbl}_pct"] = pct[c]
                add[f"{c}_{lbl}_abs"] = diff[c]
        return add

    return _cohort_kernel(df, keys, order_keys, new_cols, derive)


def ranks_wide(
    df: DataFrame,
    cohort_keys: list[str],
    rank_cols: list[str],
    signed_cols: list[str],
) -> DataFrame:
    """Wide-fan-out twin of ``cohort_ranks`` + ``signed_delta_ranks`` on
    ``_cohort_kernel``: one shuffle on the cohort keys; ranks for every
    family computed via pandas ``groupby().rank()`` — vectorized across
    all cohorts in a chunk at once (pandas ``rank(method="min")`` IS the
    reference semantics).  Exact min-ties rank needs full-cohort
    visibility, which the whole-cohort chunker gives.
    """
    keys = list(cohort_keys)
    new_cols = [f"{c}_rank" for c in rank_cols] + [
        f"{c}{sfx}" for c in signed_cols for sfx in ("_pos_rank", "_neg_rank")
    ]

    def derive(pdf):
        g = pdf.groupby(keys, sort=False, dropna=False)
        by = [pdf[k] for k in keys]
        add = {f"{c}_rank": g[c].rank(method="min", ascending=False) for c in rank_cols}
        for c in signed_cols:
            v = pdf[c]
            pos = v.where(v > 0).groupby(by, dropna=False)
            neg = v.where(v < 0).groupby(by, dropna=False)
            add[f"{c}_pos_rank"] = pos.rank(method="min", ascending=False)
            add[f"{c}_neg_rank"] = neg.rank(method="min", ascending=True)
        return add

    return _cohort_kernel(df, keys, [], new_cols, derive)


def _masked_rank(col, w_keys: list[str], ascending: bool, mask):
    """RANK() among rows satisfying ``mask``, null elsewhere.

    Non-matching rows have their sort key masked to null; with
    nulls-sorted-last ordering they cannot perturb the ranks of matching
    rows, and the outer ``when`` nulls their own rank — pandas parity
    without a filter+join-back.
    """
    key = F.when(mask, col)
    order = F.asc_nulls_last(key) if ascending else F.desc_nulls_last(key)
    return F.when(mask, F.rank().over(Window.partitionBy(*w_keys).orderBy(order)))


def cohort_ranks(
    df: DataFrame,
    cohort_keys: list[str],
    metric_cols: list[str],
    suffix: str = "_rank",
) -> DataFrame:
    """Descending min-ties rank per cohort (W3); nulls unranked and excluded
    from the count (pandas ``rank(method="min", ascending=False)`` parity,
    reference assets.py:460-461)."""
    cols = {
        f"{c}{suffix}": _masked_rank(
            F.col(c), cohort_keys, ascending=False, mask=F.col(c).isNotNull()
        ).cast("double")
        for c in metric_cols
    }
    return df.withColumns(cols)


def signed_delta_ranks(
    df: DataFrame,
    cohort_keys: list[str],
    delta_cols: list[str],
) -> DataFrame:
    """Directional ranks (W4): positives ranked descending (``_pos_rank``),
    negatives ascending (``_neg_rank``); rows of the other sign (or null)
    get a null rank (reference assets.py:463-474)."""
    cols = {}
    for c in delta_cols:
        cols[f"{c}_pos_rank"] = _masked_rank(
            F.col(c), cohort_keys, ascending=False, mask=F.col(c) > 0
        ).cast("double")
        cols[f"{c}_neg_rank"] = _masked_rank(
            F.col(c), cohort_keys, ascending=True, mask=F.col(c) < 0
        ).cast("double")
    return df.withColumns(cols)
