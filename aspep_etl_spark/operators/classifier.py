"""[EXT] Hashed linear text classifier (fasttext-style) applied at scale.

The reference pipeline has no model-scoring operator; every serious
LLM-data pipeline does (quality classifiers gate most of the corpus).
This implements the *inference* side of a linear bag-of-features model
the way fasttext does it — features are word unigrams + adjacent-word
bigrams, hashed into a fixed-dimension bucket space, scored by a weight
lookup and a sigmoid.  Two bit-identical implementations:

- the ADOPTED default (r10): one Arrow ``mapInPandas`` kernel
  (``score_documents_kernel``) — C-speed tokenize + memoized hash +
  strict-left-fold sum per partition, measured 1.88× the expression
  chain at sf1 (r9 verdict ask #4 A/B, PERF.md);
- the Catalyst expression twin (``score_documents_expr``): tokens,
  bigrams, buckets, weights and the ordered left-fold sum as built-in
  array expressions — the cross-check arm, and the zero-Python option.
- ZERO shuffles either way: scoring rides the corpus scan (at 100 TB
  the classifier pass is scan-bound, exactly like production
  quality-filter sweeps).
- The bucket hash is the engine's native ``xxhash64`` (seed 42), folded
  non-negative with ``pmod``.  (r9: re-keyed from the md5 8-hex-prefix
  trick — the per-feature md5→hex→conv chain ran INTERPRETED inside the
  ``transform`` lambda and was the measured dominant cost of every
  classifier-family query at sf1, ~5.3 s of conformal's 6.65 s per the
  PERF.md A/B; xxhash64 is one JVM hash call with no string allocation.)
  Cross-engine exactness is preserved by the DuckDB XXH64 macro twin in
  ``plans/xxh64_sql.py`` — the same oracle machinery the MinHash/SimHash
  queries use, byte-semantics pinned by ``tests/test_hash_twins.py`` —
  hashing once per DISTINCT feature oracle-side.
- Weights come from a deterministic bucket->weight formula rather than
  a trained literal table, so the contract query needs no external
  artifact; swapping in real trained weights is a one-line change
  (replace `bucket_weight` with an `element_at(lit(weights), bucket)`
  lookup — a D-element double literal shipped in the task binary is
  fine up to ~10^6 buckets, same bound documented for the IVF
  centroid literal in operators/similarity.py).

The ordered left fold (`F.aggregate`) matters: a pairwise/tree sum
would be engine-dependent in IEEE result; the fold makes the
double-precision sum bit-identical to the DuckDB oracle's
`list_reduce` over the same feature order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.xxh64 import xxh64_bytes
from .text import WORD_RE


def score_documents_kernel(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    round_dp: int = 6,
    keep: tuple = (),
) -> DataFrame:
    """``score_documents`` as ONE ``mapInPandas`` Arrow kernel — the
    ADOPTED default (r9 verdict ask #4 A/B, measured at sf1 on a quiet
    host: 0.933 s vs 1.758 s for the expression chain at full 32-way
    parallelism — 1.88×, well past the 25% adoption bar; at the
    contract's natural 6-task split the gap narrows to 3.25 vs 3.61 s
    because both arms are scheduling-starved, see PERF.md).  Output is
    BIT-IDENTICAL to ``score_documents_expr`` (verified row-exact at
    sf0.01/sf0.1): the r9 stage ablation showed the residual cost of the
    scoring scan is the regexp tokenizer + higher-order-function array
    machinery itself (codegen'd but allocation-heavy: token array,
    bigram array, concat, per-element lambda), the same shape the
    wide-window kernels solved with Arrow.  This kernel tokenizes with
    C-speed ``re`` over the Arrow batch, hashes through a memoized
    pure-Python XXH64 (``functions/xxh64.py``; the corpus vocabulary is
    small, so the cache turns per-occurrence hashing into dict hits;
    byte semantics pinned by tests/test_hash_twins.py), folds with
    Python's ``sum`` (a strict left fold at C speed — numpy's
    pairwise/unrolled sums would break IEEE bit-parity with the engine
    fold), and reproduces Spark's ``round`` (BigDecimal shortest-repr
    HALF_UP) via ``Decimal(repr(x))``.  Still map-only: zero Exchanges,
    one scan, one Python worker pass per partition; the input is
    projected to (id, keep, text) BEFORE the Arrow exchange so a wide
    upstream never ships unused columns through the Python worker.

    Edge semantics match the expression twin exactly: a NULL (or
    non-string) text is DROPPED, same as the twin's ``size(__toks) >= 1``
    filter over the null token array (pinned in
    tests/test_classifier_kernel.py).  ``dim`` must be a power of two —
    the kernel computes unsigned ``xxh64 % dim``, which equals the
    twin's ``pmod(signed xxhash64, dim)`` only when dim divides 2^64;
    asserted up front rather than left implicit.

    Residual bit-parity risk (documented, accepted): the kernel's
    sigmoid uses Python ``math.exp`` (platform libm) while the twin uses
    the JVM's ``Math.exp``; both are sub-ulp-accurate but not required
    to be correctly rounded, so a sigmoid value sitting within one ulp
    of a .5e-6 HALF_UP quantize boundary could round differently between
    the arms.  The boundary band is ~2^-52 wide relative to the 1e-6
    grid (~1e-10 hit probability per row); if a parity hash-mismatch
    ever appears, diff the ``prob`` column first — ``score`` is exp-free
    and cannot be affected."""
    import pyspark.sql.types as T

    if dim <= 0 or dim & (dim - 1):
        raise ValueError(
            f"dim must be a power of two (got {dim}): the kernel's unsigned "
            "xxh64 % dim only equals the expression twin's "
            "pmod(signed xxhash64, dim) when dim divides 2^64"
        )

    docs = docs.select(id_col, *keep, text_col)
    in_fields = {f.name: f for f in docs.schema.fields}
    out = T.StructType(
        [in_fields[id_col]]
        + [in_fields[k] for k in keep]
        + [
            T.StructField("n_features", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("prob", T.DoubleType()),
        ]
    )

    def kernel(batches):
        import math
        import re
        from decimal import ROUND_HALF_UP, Decimal

        word_re = re.compile(WORD_RE)
        q = Decimal(1).scaleb(-round_dp)
        wcache: dict[str, float] = {}

        def weight(t: str) -> float:
            w = wcache.get(t)
            if w is None:
                b = xxh64_bytes(t.encode(), 42) % dim
                w = (b % 2001) / 1000.0 - 1.0
                wcache[t] = w
            return w

        def srnd(x: float) -> float:
            # Spark round(double, n): BigDecimal(shortest repr) HALF_UP
            return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

        for pdf in batches:
            sel, nf, sc, pb = [], [], [], []
            texts = pdf[text_col].values
            for i in range(len(pdf)):
                t = texts[i]
                if not isinstance(t, str):
                    # null / non-string text: DROP, matching the expr
                    # twin's size(regexp_extract_all(null)) >= 1 filter
                    continue
                toks = word_re.findall(t.lower())
                if not toks:
                    continue
                feats = toks + [
                    toks[j] + " " + toks[j + 1] for j in range(len(toks) - 1)
                ]
                ws = list(map(weight, feats))
                n = len(ws)
                score = srnd(sum(ws) / n)  # sum(): strict left fold
                sel.append(i)
                nf.append(n)
                sc.append(score)
                pb.append(srnd(1.0 / (1.0 + math.exp(-score))))
            out_pdf = pdf.iloc[sel][[id_col, *keep]].reset_index(drop=True)
            out_pdf["n_features"] = nf
            out_pdf["score"] = sc
            out_pdf["prob"] = pb
            yield out_pdf

    return docs.mapInPandas(kernel, out)


def hashed_bucket(feature: Column, dim: int) -> Column:
    """Non-negative ``xxhash64`` (seed 42) of a feature string, mod `dim`.

    ``pmod`` folds the signed 64-bit hash into [0, dim); for the
    power-of-two dims used here that equals the unsigned hash mod dim,
    which is what the DuckDB twin computes (``xx_bytes`` returns the
    unsigned value)."""
    return F.pmod(F.xxhash64(feature), F.lit(dim))


def bucket_weight(bucket: Column) -> Column:
    """Deterministic pseudo-weight in [-1, 1]: (b % 2001)/1000 - 1."""
    return (bucket % 2001) / F.lit(1000.0) - F.lit(1.0)


def score_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    round_dp: int = 6,
    keep: tuple = (),
) -> DataFrame:
    """Linear-classifier quality score per document.

    Returns (id, *keep, n_features, score, prob): score is the mean
    hashed feature weight (ordered left-fold sum / count), prob its
    sigmoid.  ``keep`` names extra input columns to carry through (e.g.
    a label for downstream eval — keeping eval metrics on the SAME scan
    instead of a self-join back to the corpus).  Documents with zero
    word tokens are dropped (no features to score).  Map-only, one scan,
    no Exchange.

    Dispatches to the adopted ``score_documents_kernel`` (Arrow
    ``mapInPandas``; 1.88× the expression chain at sf1 full parallelism,
    bit-identical output — r9 ask #4 A/B, PERF.md).  The Catalyst
    expression twin stays available as ``score_documents_expr``."""
    return score_documents_kernel(docs, text_col, id_col, dim, round_dp, keep)


def score_documents_expr(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    round_dp: int = 6,
    keep: tuple = (),
) -> DataFrame:
    """The pure-Catalyst expression form of ``score_documents`` (the
    pre-r10 default, now the A/B twin): tokens, bigrams, buckets,
    weights and the ordered left-fold sum as built-in array expressions
    riding the scan.  Kept as the cross-check arm (parity pinned in
    tests) and for deployments that must avoid Python workers entirely.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    bigrams = F.when(
        F.size(F.col("__toks")) >= 2,
        F.expr(
            "transform(sequence(0, size(__toks) - 2), "
            "i -> concat(__toks[i], ' ', __toks[i + 1]))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    weights = F.transform(
        F.concat(F.col("__toks"), F.col("__bi")),
        lambda t: bucket_weight(hashed_bucket(t, dim)),
    )
    fold = F.aggregate(F.col("__w"), F.lit(0.0), lambda acc, w: acc + w)
    return (
        docs.withColumn("__toks", toks)
        .filter(F.size("__toks") >= 1)
        .withColumn("__bi", bigrams)
        .withColumn("__w", weights)
        .withColumn("n_features", F.size("__w").cast("long"))
        .withColumn("score", F.round(fold / F.col("n_features"), round_dp))
        .withColumn(
            "prob",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))), round_dp),
        )
        .select(id_col, *keep, "n_features", "score", "prob")
    )
