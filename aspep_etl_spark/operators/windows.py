"""Window operators (SURVEY.md §2.5, W1-W4) with pandas-parity semantics.

The reference computes these with a driver-side groupby loop
(assets.py:440-447) — one pandas frame per (state, gov_function) cohort.
Here each family of derived columns is a set of window expressions over ONE
DataFrame: Spark shuffles once per distinct (partitionBy, orderBy) pair and
evaluates every column in that family in a single pass, so the ~100-column
fan-out costs two shuffles total (deltas on cohort keys, ranks on year/fn
keys) regardless of data size.

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


def yoy_deltas(
    df: DataFrame,
    cohort_keys: list[str],
    order_keys: list[str],
    metric_cols: list[str],
    lags: tuple[int, ...] = (1, 4),
    lag_labels: dict[int, str] | None = None,
) -> DataFrame:
    """Positional lag deltas (W1/W2): for every metric and every lag k emit
    ``{col}_{label}_pct`` = cur/lag(k) - 1  (null when the lagged value is 0
    or absent) and ``{col}_{label}_abs`` = cur - lag(k).

    One window spec → one shuffle+sort evaluates all len(metrics)×len(lags)×2
    columns.
    """
    lag_labels = lag_labels or {1: "1yr", 4: "5yr"}
    w = Window.partitionBy(*cohort_keys).orderBy(*order_keys)
    cols = {}
    for c in metric_cols:
        for k in lags:
            lbl = lag_labels[k]
            prev = F.lag(F.col(c), k).over(w)
            cols[f"{c}_{lbl}_pct"] = F.when(prev != 0, F.col(c) / prev - 1)
            cols[f"{c}_{lbl}_abs"] = F.col(c) - prev
    return df.withColumns(cols)


def _schema_plus_doubles(df: DataFrame, new_cols: list[str]):
    from pyspark.sql import types as T

    fields = list(df.schema.fields) + [
        T.StructField(c, T.DoubleType(), True) for c in new_cols
    ]
    return T.StructType(fields)


#: Rows buffered per kernel invocation before a chunk is flushed.  Bounds
#: kernel memory at ~chunk × row-width regardless of partition size (a
#: skewed cohort key can put an arbitrary fraction of the data in one
#: shuffle partition — the kernel must stream, not concat the partition).
WIDE_CHUNK_ROWS = 1 << 16


def yoy_deltas_wide(
    df: DataFrame,
    cohort_keys: list[str],
    order_keys: list[str],
    metric_cols: list[str],
    lags: tuple[int, ...] = (1, 4),
    lag_labels: dict[int, str] | None = None,
    chunk_rows: int | None = None,
) -> DataFrame:
    """Wide-fan-out twin of ``yoy_deltas`` as an Arrow-batched kernel, with
    legacy-pandas ``pct_change`` semantics for the ``_pct`` columns.

    Same single shuffle on the cohort keys, but above a few dozen derived
    columns Catalyst plan/codegen time dominates the stacked-window
    expression form — the kernel keeps the plan O(1) in column count.

    Partition-level vectorization with BOUNDED memory: rows are
    hash-partitioned by cohort and sorted (cohort, order) within
    partitions; the kernel accumulates Arrow batches only up to
    ``chunk_rows`` (default ``WIDE_CHUNK_ROWS``) and flushes each chunk
    through pandas ``groupby().shift()`` — vectorized across all cohorts
    in the chunk at once.  A ``max(lags)``-row keyed carry (raw values for
    the shift, forward-filled values for ``pct_change``) is prepended to
    the next chunk, so a cohort that straddles a chunk — or a single
    cohort larger than executor memory — streams instead of OOMing.  Chunk boundaries are invisible to the semantics: the carry
    rows reproduce exactly the lag window and ffill state the split
    removed.  (A per-group ``applyInPandas`` costs ~10 ms of pandas
    overhead per cohort — ruinous with thousands of small cohorts.)
    Chunk-size invariance is pinned by the wide-kernel tests.

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
    import pandas as pd

    lag_labels = lag_labels or {1: "1yr", 4: "5yr"}
    new_cols = [
        f"{c}_{lag_labels[k]}_{kind}" for c in metric_cols for k in lags for kind in ("pct", "abs")
    ]
    out_schema = _schema_plus_doubles(df, new_cols)
    out_names = [f.name for f in out_schema.fields]
    keys = list(cohort_keys)
    max_lag = max(lags)
    flush_at = chunk_rows or WIDE_CHUNK_ROWS

    def process(pdf, tail_raw, tail_fill):
        """Compute derived cols for ``pdf`` given the carry from the previous
        chunk; return (out_frame, new_tail_raw, new_tail_fill)."""
        pdf = pdf.reset_index(drop=True)
        ctx = 0 if tail_raw is None else len(tail_raw)
        kr = pdf[keys + metric_cols]
        if ctx:
            kr = pd.concat([tail_raw, kr], ignore_index=True)
        g = kr.groupby(keys, sort=False, dropna=False)
        # one groupby pass per lag across ALL metric columns (a per-column
        # Series.groupby costs ~37x the group-dispatch overhead)
        base_all = pdf[metric_cols].astype(float)
        shifted = {
            k: g[metric_cols].shift(k).astype(float).iloc[ctx:].reset_index(drop=True)
            for k in lags
        }
        kf = pdf[keys + metric_cols]
        if ctx:
            kf = pd.concat([tail_fill, kf], ignore_index=True)
        gf = kf.groupby(keys, sort=False, dropna=False)
        filled_full = gf[metric_cols].ffill().astype(float)
        fg = filled_full.groupby([kf[k] for k in keys], sort=False, dropna=False)
        fshift = {k: fg.shift(k).iloc[ctx:].reset_index(drop=True) for k in lags}
        filled = filled_full.iloc[ctx:].reset_index(drop=True)
        add = {}
        for c in metric_cols:
            for k in lags:
                lbl = lag_labels[k]
                prev = shifted[k][c]
                with np.errstate(divide="ignore", invalid="ignore"):
                    # legacy pct_change: padded num AND denom, ±inf kept
                    add[f"{c}_{lbl}_pct"] = filled[c] / fshift[k][c] - 1
                add[f"{c}_{lbl}_abs"] = base_all[c] - prev
        out = pd.concat([pdf, pd.DataFrame(add)], axis=1)[out_names]
        new_tail_raw = kr.iloc[-max_lag:].reset_index(drop=True)
        new_tail_fill = kr.iloc[-max_lag:][keys].reset_index(drop=True).join(
            filled_full.iloc[-max_lag:].reset_index(drop=True)
        )
        return out, new_tail_raw, new_tail_fill

    def kernel(batches):
        buf, n = [], 0
        tail_raw = tail_fill = None
        for b in batches:
            if not len(b):
                continue
            buf.append(b)
            n += len(b)
            if n < flush_at:
                continue
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            # exact chunk_rows slices (an incoming Arrow batch may be much
            # larger than flush_at — slice it, don't process it whole)
            start = 0
            while n - start >= flush_at:
                out, tail_raw, tail_fill = process(
                    pdf.iloc[start : start + flush_at], tail_raw, tail_fill
                )
                yield out
                start += flush_at
            rest = pdf.iloc[start:]
            buf, n = ([rest], len(rest)) if len(rest) else ([], 0)
        if n:
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            out, _, _ = process(pdf, tail_raw, tail_fill)
            yield out

    ordered = df.repartition(*cohort_keys).sortWithinPartitions(
        *cohort_keys, *order_keys
    )
    return ordered.mapInPandas(kernel, schema=out_schema)


def ranks_wide(
    df: DataFrame,
    cohort_keys: list[str],
    rank_cols: list[str],
    signed_cols: list[str],
    chunk_rows: int | None = None,
) -> DataFrame:
    """Wide-fan-out twin of ``cohort_ranks`` + ``signed_delta_ranks``: one
    shuffle on the cohort keys; ranks for every family computed via
    partition-level pandas ``groupby().rank()`` — vectorized across all
    cohorts in a chunk at once (pandas ``rank(method="min")`` IS the
    reference semantics).

    Memory is bounded per chunk, not per partition: rows are sorted by the
    cohort keys within each shuffle partition, the kernel accumulates
    Arrow batches up to ``chunk_rows`` (default ``WIDE_CHUNK_ROWS``) and
    flushes every COMPLETE cohort run, carrying the trailing (possibly
    incomplete) cohort into the next chunk.  Exact min-ties rank needs
    full-cohort visibility, so the worst case degrades to buffering the
    single largest cohort — not the whole partition — and a skewed cohort
    KEY (many cohorts hashed to one partition) streams fine.
    """
    import numpy as np
    import pandas as pd

    new_cols = [f"{c}_rank" for c in rank_cols] + [
        f"{c}{sfx}" for c in signed_cols for sfx in ("_pos_rank", "_neg_rank")
    ]
    out_schema = _schema_plus_doubles(df, new_cols)
    out_names = [f.name for f in out_schema.fields]
    keys = list(cohort_keys)
    flush_at = chunk_rows or WIDE_CHUNK_ROWS

    def process(pdf):
        pdf = pdf.reset_index(drop=True)
        g = pdf.groupby(keys, sort=False, dropna=False)
        add = {}
        for c in rank_cols:
            add[f"{c}_rank"] = g[c].rank(method="min", ascending=False)
        for c in signed_cols:
            v = pdf[c]
            gb_pos = pdf[c].where(v > 0).groupby([pdf[k] for k in keys], dropna=False)
            gb_neg = pdf[c].where(v < 0).groupby([pdf[k] for k in keys], dropna=False)
            add[f"{c}_pos_rank"] = gb_pos.rank(method="min", ascending=False)
            add[f"{c}_neg_rank"] = gb_neg.rank(method="min", ascending=True)
        return pd.concat([pdf, pd.DataFrame(add)], axis=1)[out_names]

    def _null_safe_changes(kf, prev_last):
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
        # Incremental boundary tracking, LAZILY armed: batches are scanned
        # for cohort-key changes (null-safe compare vs their own shift and
        # the previous batch's last row) only once the buffer has actually
        # crossed chunk_rows — the common case of a partition smaller than
        # one chunk pays ZERO boundary-scan work (r4 verdict ask #5: the
        # machinery used to run per batch even when the whole partition
        # arrived under chunk_rows).  Each batch is still scanned at most
        # ONCE, and the buffer is concatenated only when a flush happens —
        # the degenerate one-giant-cohort case stays O(rows) total, with
        # memory degrading to the largest single cohort (exact min-ties
        # rank needs the whole cohort).
        buf, n = [], 0
        scanned = 0  # batches in buf whose boundaries are already known
        last_boundary = 0  # buffer-global start index of the last OPEN cohort
        prev_last = None
        for b in batches:
            if not len(b):
                continue
            buf.append(b)
            n += len(b)
            if n < flush_at:
                continue  # fast path: no boundary scan while under-chunk
            base = sum(len(x) for x in buf[:scanned])
            for x in buf[scanned:]:
                changed = _null_safe_changes(x[keys], prev_last)
                idx = np.nonzero(changed)[0]
                if len(idx):
                    last_boundary = base + int(idx[-1])
                prev_last = x[keys].iloc[-1]
                base += len(x)
                scanned += 1
            # flush all COMPLETE cohorts (the open tail cohort carries
            # over; if no boundary exists yet the whole buffer is one
            # cohort — keep accumulating)
            if last_boundary > 0:
                pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0].reset_index(drop=True)
                yield process(pdf.iloc[:last_boundary])
                rest = pdf.iloc[last_boundary:]
                buf, n = ([rest], len(rest)) if len(rest) else ([], 0)
                scanned = len(buf)  # the carried tail is already scanned
                last_boundary = 0
        if n:
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            yield process(pdf)

    ordered = df.repartition(*cohort_keys).sortWithinPartitions(*cohort_keys)
    return ordered.mapInPandas(kernel, schema=out_schema)


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
