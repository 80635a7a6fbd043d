"""[EXT] Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash (SURVEY.md §2.11; driver mandate).

Scale design
------------
- Exact dedup is a hash aggregation on the identity key — one shuffle.
- Near-dup candidate generation is the classic shingle→bucket→self-join:
  quadratic work is confined to rows sharing a bucket.  ``max_shingle_df``
  drops ultra-common shingles (stopword shingles bucket half the corpus
  together; at 100 TB that's the difference between a join and a cross
  join).
- All hashing is ``xxhash64`` — deterministic, JVM-side, seedable through
  an extra hash argument, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.registry import fan_for_compute
from .candidates import PAIR_ENDS, _fan, attach, bucket_pairs, dedup_pairs, posting_pairs, verify
from .similarity import (
    assign_buckets_gemm, collect_leader_matrix, cosine_expr, gemm_screen_pairs, with_norm,
)
from .text import WORD_RE


#: Default document-frequency cap policy for posting-list candidate
#: generation: drop shingles appearing in more than this fraction of the
#: corpus (stopword shingles bucket half the corpus together — the pair
#: fan-out of one hot shingle is O(df²)).  A shingle this common carries
#: ~no Jaccard signal: two docs whose overlap is ONLY corpus-common
#: shingles are not near-dups.  The floor keeps tiny corpora exact,
#: where quadratic fan-out is affordable and recall matters more.
DEFAULT_SHINGLE_DF_FRACTION = 0.1
DEFAULT_SHINGLE_DF_FLOOR = 8


def shingle_df_cap(
    n_docs: int,
    fraction: float = DEFAULT_SHINGLE_DF_FRACTION,
    floor: int = DEFAULT_SHINGLE_DF_FLOOR,
) -> int:
    """The default ``max_shingle_df`` for a corpus of ``n_docs`` documents:
    ``max(floor, int(fraction * n_docs))``.  Callers that know their corpus
    size pass ``max_shingle_df=shingle_df_cap(n)`` to bound the worst
    posting list's pair fan-out at ``O((fraction·n)²)`` instead of
    ``O(n²)``; skew-stress behavior is pinned in
    ``tests/test_dedup_skew.py``."""
    return max(floor, int(fraction * n_docs))


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic survivor (min id) per identity-key group."""
    return df.groupBy(*keys).agg(
        F.min(F.col(id_col)).alias(id_col), F.count("*").alias("dup_count")
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document distinct word-n-gram shingle array: (id, sh_arr,
    n_shingles) — entirely map-side (no shuffle, no explode).  Documents
    shorter than n words yield an empty array."""
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    grams = F.when(
        F.size(F.col("__words")) >= n,
        F.expr(
            f"array_distinct(transform(sequence(0, size(__words) - {n}), "
            f"i -> array_join(slice(__words, i + 1, {n}), ' ')))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return (
        df.select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), grams.alias("sh_arr"))
        .withColumn("n_shingles", F.size("sh_arr"))
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct shingles per document as rows: (id, shingle).

    The shingle arrays are persisted before the explode — a MATERIALIZATION
    FENCE, not a cache nicety: exploding an array whose building expression
    lives in the same stage re-evaluates the regex/transform chain once per
    emitted shingle (see ``jaccard_pairs``; measured ~20× on this corpus).
    Sweep with ``cache.free_cached_blocks`` after consuming in multi-query
    sessions."""
    # fan only an under-split scan: a properly-split lake scan must NOT
    # pay a full-corpus shuffle
    arr = shingle_arrays(fan_for_compute(df, min_bytes=0), id_col, text_col, n).persist()
    return arr.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    |A∩B| from a shingle self-join, |A∪B| = |A|+|B|-|A∩B| from per-doc
    distinct shingle counts.  ``max_shingle_df`` frequency-caps candidate
    generation (scale path; changes recall, documented).

    The ``persist`` on the shingle frame is LOAD-BEARING, not a cache
    nicety: exploding an array column whose building expression lives in
    the same stage re-evaluates that expression per EMITTED ELEMENT
    (projection collapse inlines the regex/transform chain into the
    generator, and neither whole-stage codegen CSE nor a repartition
    fence stops it — measured 7s vs 0.4s on a 260k-shingle corpus slice).
    Materializing the arrays once (persist here; parquet at lake scale)
    restores once-per-row evaluation AND feeds the size branch without a
    second regex pass.  Callers running many queries in one session
    should sweep with ``cache.free_cached_blocks`` afterwards; at 100 TB
    the persisted frame is MEMORY_AND_DISK and ~the corpus size — write
    the shingle frame to the lake instead if it is reused across jobs.
    """
    # Fan the regex-heavy shingle stage out when the scan is under-split,
    # and MATERIALIZE it (see docstring): it feeds both the size lookup
    # and the posting-list build.
    arrs = shingle_arrays(fan_for_compute(df, min_bytes=0), id_col, text_col, n).persist()
    sh = arrs.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))

    # Only shingles shared by ≥2 docs can produce a pair — pre-aggregating
    # to posting lists prunes the singleton majority before pair generation
    # and turns the self-join into ONE shuffle on `shingle`.
    posting = sh.groupBy("shingle").agg(F.collect_list(id_col).alias("ids")).filter(
        F.size("ids") >= 2
    )
    if max_shingle_df is not None:
        # Frequency cap (scale path): ultra-common shingles bucket half the
        # corpus together; dropping them bounds pair fan-out at some recall
        # cost.
        posting = posting.filter(F.size("ids") <= max_shingle_df)
    pairs = posting_pairs(posting, "shingle", "ids")
    inter = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_common"))
    # Size lookups: one row per doc — NOT force-broadcast (at corpus scale
    # that's billions of rows); AQE converts to broadcast when small.
    jaccard = F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4)
    return verify(
        inter, (arrs, arrs), id_col, PAIR_ENDS, {"n_shingles": "n"},
        {"jaccard": jaccard}, threshold, ["id_a", "id_b", "jaccard"],
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_perm: int = 64
) -> DataFrame:
    """MinHash signature per document: num_perm seeded-xxhash64 minima over
    the shingle set — computed entirely map-side from the per-doc shingle
    array (``array_min`` over a hash ``transform``) — no shuffle beyond
    the conditional scan fan (``fan_for_compute``) of an under-split scan.

    The shingle frame is persisted BEFORE both the empty-doc filter and
    the num_perm min-hash columns.  Order is load-bearing twice over:
    (a) a filter on the DERIVED ``n_shingles`` column placed below the
    persist re-inlines the regex + trigram chain into the filter
    predicate (measured 8 s → 60 s at sf1 for that one placement); (b)
    without the persist, projection collapse inlines the chain into
    every transform column.  Persist-then-filter evaluates the chain
    exactly once and filters on the cached column.  Callers sweep with
    ``cache.free_cached_blocks``."""
    arrs = (
        shingle_arrays(fan_for_compute(df, min_bytes=0), id_col, text_col, n)
        .persist()
        .filter(F.col("n_shingles") > 0)
    )
    mins = [
        F.array_min(F.expr(f"transform(sh_arr, s -> xxhash64(s, {i}))")).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    return arrs.select(F.col(id_col), *mins)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures bucket candidates, then
    candidates are verified with exact Jaccard estimated from the full
    signature (fraction of agreeing permutations ≥ threshold).

    The only join is on (band, band_hash) — at scale each bucket holds a
    handful of docs, so candidate volume stays near-linear.

    ``max_bucket_df`` is the skew guard for degenerate buckets: a bucket
    holding k docs emits O(k²) candidate pairs, and a large exact-dup
    cluster (boilerplate pages, template spam) puts ALL its members in the
    same bucket in EVERY band.  Buckets larger than the cap are dropped
    from candidate generation — a recall trade documented for the scale
    path (members of an oversized cluster stop pairing with each other;
    run ``exact_dedup`` first so literal duplicates never reach LSH).
    Skew behavior is pinned in ``tests/test_dedup_skew.py``.
    """
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm)
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        .alias(f"band_{b}")
        for b in range(bands)
    ]
    # MATERIALIZATION FENCE (see jaccard_pairs): without it, projection
    # collapse inlines the whole regex + num_perm-hash chain into the
    # posexplode below, which re-evaluates it per emitted band — and the
    # left/right candidate branches and the signature re-attach would each
    # recompute it again.  One ~(num_perm+bands)×8-byte row per doc.
    banded = sig.select(
        id_col, *[F.col(f"mh_{i}") for i in range(num_perm)], *band_cols
    ).persist()

    bands_long = banded.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band", "band_hash"
        ),
    )
    if max_bucket_df is not None:
        # One window count over the same (band, band_hash) key the self-join
        # shuffles on — the Exchange is reused, so the guard costs no extra
        # shuffle of the banded frame.
        bw = Window.partitionBy("band", "band_hash")
        bands_long = (
            bands_long.withColumn("__bucket_df", F.count("*").over(bw))
            .filter(F.col("__bucket_df") <= max_bucket_df)
            .drop("__bucket_df")
        )
    # Candidate generation carries BARE ids only: a candidate pair surfacing
    # from several bands would otherwise drag two ~1 KB signature arrays
    # through the dedup's shuffle once per band.  Dedup on (id_a, id_b)
    # first, then re-attach each signature exactly once.
    cand = dedup_pairs(bucket_pairs(bands_long, id_col, ["band", "band_hash"]))
    sigs = banded.select(
        id_col, F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("sig")
    )
    agree = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    return verify(
        cand, (sigs, sigs), id_col, PAIR_ENDS, {"sig": "sig"},
        {"est_jaccard": F.round(agree / F.lit(num_perm), 4)}, threshold,
        ["id_a", "id_b", "est_jaccard"],
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document from token xxhash64s — the per-bit ±1
    vote runs as one array aggregate, no Python; under-split scans are
    spread first (see ``sources.registry.fan_for_compute``).

    The vote is a SINGLE left fold over the token hashes carrying a
    64-int accumulator (``zip_with`` per step), not 64 separate
    traversals (``transform(sequence(0,63), b -> aggregate(__th, ...))``)
    — same 64·T adds, but one pass over the hash array instead of 64
    re-walks was measured 2.5× faster at sf1 (2.56 → 1.04 s, r8) and is
    bit-identical (integer adds commute per bit position)."""
    df = fan_for_compute(df, min_bytes=0)
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    votes = F.expr(
        "aggregate(__th, array_repeat(0, 64), (acc, h) -> "
        "zip_with(acc, sequence(0, 63), (a, b) -> a + CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    bits = F.expr(
        "aggregate(zip_with(sequence(0, 63), __votes, (b, v) -> "
        "CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END), 0L, (acc, x) -> acc | x)"
    )
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__th", F.expr("transform(__toks, t -> xxhash64(t))"))
        .withColumn("__votes", votes)
        .select(F.col(id_col), bits.alias("simhash64"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Brute-force all-pairs baseline — O(n²), small corpora and oracle checks
    ONLY.  The scale path is ``embedding_near_dup_pairs_bucketed`` below.
    """
    v = with_norm(fan_for_compute(df, min_bytes=0), id_col, vec_col)
    a = v.select(F.col(id_col).alias("id_a"), F.col("vec").alias("vec_a"), F.col("norm").alias("norm_a"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("vec").alias("vec_b"), F.col("norm").alias("norm_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_expr("vec_a", "vec_b", "norm_a", "norm_b"), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def canopy_leader_count(n_vecs: int, floor: int = 8, cap: int = 4096) -> int:
    """sqrt-scaling leader count for canopy/IVF candidate generation.

    Leader assignment costs O(n·L) (broadcast pass) and in-bucket pair
    work is O(n²·a²/L) — both ~n^1.5 at L=√n, the classic canopy balance.
    ``floor`` keeps tiny corpora from degenerating to one bucket;
    ``cap`` bounds the broadcast leader table (the documented
    centroid-literal size bound: 4096 leaders × a 768-dim float vector is
    ~12 MB, the edge of comfortable broadcast)."""
    import math

    return max(floor, min(cap, math.isqrt(max(0, n_vecs))))


def embedding_near_dup_pairs_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_leaders: int | None = None,
    n_assign: int = 4,
    seed: int = 42,
    screen: str = "gemm",
    collapse_exact: bool = True,
) -> DataFrame:
    """Bucketed embedding-cosine near-dup pairs — the 100 TB path.

    Canopy/IVF-style candidate generation instead of the all-pairs cross
    join:

    1. Pick ``n_leaders`` deterministic leader vectors (order by a seeded
       ``xxhash64`` of the id — a uniform pseudo-random sample, reproducible
       across runs and sessions; no driver collect, the leader table stays a
       broadcast-able DataFrame).
    2. Assign every vector to its ``n_assign`` nearest leaders by cosine —
       ONE broadcast nested-loop pass of the tiny leader table over a single
       corpus scan (linear, no shuffle of the corpus).
    3. Candidate pairs = vectors sharing at least one leader bucket.  The
       self-join shuffles on ``bucket`` only and carries BARE ids; quadratic
       work is confined to rows inside a bucket (≈ n/n_leaders each).
       ``n_leaders=None`` (the default) auto-sizes to
       ``canopy_leader_count`` — √n leaders, the balance point between
       the O(n·L) assignment pass and the O(n²·a²/L) in-bucket work —
       from one driver-scalar ``df.count()`` (a column-pruned scan; the
       documented sizing pattern).  Pass an explicit count to skip the
       count job or to widen recall for low thresholds.
    4. Re-attach vectors once per surviving candidate and verify with the
       EXACT double-precision cosine — bucketing only generates candidates,
       it never scores them, so emitted pairs are exact.

    Approximate in recall only: a qualifying pair whose members share no
    leader bucket is missed (the standard IVF trade).  On clustered
    embeddings recall is ~1 — ``tests/test_dedup_properties.py`` pins exact
    set-equality with the brute-force baseline on real testdata, and the
    contract query `dedup_embedding_cosine` hash-matches the all-pairs
    DuckDB oracle through THIS path.

    ``screen="gemm"`` (default) runs assignment AND the in-bucket pair
    screen as per-batch/per-bucket numpy gemms (filter-refine — see
    ``similarity.gemm_screen_pairs``; the sf1 rehearsal measured the
    interpreted per-pair fold at 308 s for ~10⁸ candidates, the gemm
    screen replaces ~all of it); survivors are still RE-SCORED with the
    exact JVM ordered fold the oracle replays, so emitted values are
    unchanged.  ``screen="fold"`` keeps the all-JVM path (useful to
    difference the two, and for Arrow-less deployments).

    ``collapse_exact=True`` (default) groups bit-identical vectors FIRST
    (one hash shuffle) and runs the quadratic core on DISTINCT vectors
    only, expanding group pairs back to id pairs at the end.  On real web
    corpora exact-dup multiplicity is large, and a duplicated vector
    inflates in-bucket pair volume by its multiplicity SQUARED — the r6
    sf1 rehearsal (tiled ×10 copies) measured 8.7× wall for 10× rows from
    exactly this; with the collapse the core runs at distinct-count size
    and the expansion is output-bound.  Lossless by construction:
    cross-group pairs inherit the representative pair's cosine (identical
    bit-vectors → identical fold), within-group pairs get the group's
    self-cosine through the same guarded expression, and zero-norm groups
    screen out exactly like the pair formula does.

    The collapse path persists the distinct-vector groups frame (it feeds
    three consumers: reps, cross-expansion, within-expansion); multi-query
    callers should sweep with ``cache.free_cached_blocks`` after
    materializing the result, as elsewhere in this module.
    """
    if collapse_exact:
        # self-cosine computed INTO the persisted frame so the explodes
        # below duplicate a cached scalar instead of re-evaluating the
        # fold per emitted element (the documented explode trap)
        norm_expr = F.sqrt(
            F.expr(
                "aggregate(transform(__gvec, x -> CAST(x AS DOUBLE)"
                " * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)"
            )
        )
        groups = (
            df.groupBy(F.col(vec_col).alias("__gvec"))
            .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
            .select(
                "__ids",
                F.col("__gvec").alias("vec_a"),
                F.col("__gvec").alias("vec_b"),
                norm_expr.alias("norm_a"),
                norm_expr.alias("norm_b"),
            )
            .select(
                "__ids",
                F.col("vec_a").alias("__gvec"),
                F.round(
                    cosine_expr("vec_a", "vec_b", "norm_a", "norm_b"), 4
                ).alias("__selfcos"),
            )
            .persist()
        )
        reps = groups.select(
            F.element_at("__ids", 1).alias(id_col), F.col("__gvec").alias(vec_col)
        )
        rep_pairs = embedding_near_dup_pairs_bucketed(
            reps,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            n_leaders=n_leaders,
            n_assign=n_assign,
            seed=seed,
            screen=screen,
            collapse_exact=False,
        )
        members = groups.select(
            F.element_at("__ids", 1).alias("__rep"), F.explode("__ids").alias("__m")
        )
        # rep_pairs is a bare (id,id,cosine) stream that the joins expand
        # by multiplicity² — fenced like any candidate stream
        cross = attach(
            _fan(rep_pairs, "id_a"), (members, members), "__rep", {"id_a": "a", "id_b": "b"},
            {"__m": "__"},
        ).select(
            F.least("__a", "__b").alias("id_a"), F.greatest("__a", "__b").alias("id_b"), "cosine"
        )
        within = (
            groups.filter(
                (F.size("__ids") >= 2) & (F.col("__selfcos") >= threshold)
            )
            .select(
                F.col("__selfcos").alias("cosine"),
                F.explode("__ids").alias("id_a"),
                "__ids",
            )
            .select("cosine", "id_a", F.explode("__ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "cosine")
        )
        return cross.unionByName(within)

    if n_leaders is None:
        n_leaders = canopy_leader_count(df.select(id_col).count())
    # the gemm kernels emit a hardcoded `<id> long` Arrow schema (and rank
    # leaders as np.int64) — valid only for integral ids.  String/decimal
    # ids (which the fold path handles fine) silently fall back to "fold"
    # rather than mangling ids on the default path.
    if screen == "gemm":
        id_type = dict(df.dtypes)[id_col]
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            screen = "fold"
    v = with_norm(fan_for_compute(df, min_bytes=0), id_col, vec_col)
    leaders = (
        v.orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n_leaders)
        .select(
            F.col(id_col).alias("bucket"),
            F.col("vec").alias("vec_l"),
            F.col("norm").alias("norm_l"),
        )
    )
    if screen == "gemm":
        lids, lmat = collect_leader_matrix(leaders, "bucket", "vec_l")
        assign = assign_buckets_gemm(v, lids, lmat, id_col, n_assign)
        cand = gemm_screen_pairs(assign, v, id_col, threshold=threshold)
    else:
        scored = v.crossJoin(F.broadcast(leaders)).withColumn(
            "__sim", cosine_expr("vec", "vec_l", "norm", "norm_l")
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("bucket"))
        assign = (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n_assign)
            .select(id_col, "bucket")
        )
        cand = dedup_pairs(bucket_pairs(assign, id_col, ["bucket"]))
    return verify(
        cand, (v, v), id_col, PAIR_ENDS, {"vec": "vec", "norm": "norm"},
        {"cosine": F.round(cosine_expr("vec_a", "vec_b", "norm_a", "norm_b"), 4)},
        threshold, ["id_a", "id_b", "cosine"],
    )


def levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    length_band: int = 16,
    max_distance: int = 12,
) -> DataFrame:
    """Edit-distance near-dup verification with blocking ([EXT]).

    Levenshtein is O(len²) per pair — never run it all-pairs.  Candidates
    are confined to rows sharing a block key: the caller's ``block_cols``
    plus a text-length band of ``length_band`` chars.  Banding is SOUND:
    a length difference ≤ ``max_distance`` (a lower bound on edit
    distance) means the two bands differ by at most
    ``max_distance // length_band + 1``, so one join side emits that
    many neighboring bands and no qualifying pair can straddle out of
    reach (an earlier version joined on exact band equality and silently
    dropped pairs across a band boundary — lengths 15 vs 16 never met).
    The oracle twin is the pure spec (length-filtered all pairs), so the
    gate verifies the blocking, not mirrors it.  One shuffle on the block
    key; the JVM ``levenshtein`` verifies each candidate pair exactly.
    Output: (id_a, id_b, lev) with ``lev <= max_distance``, id_a < id_b.
    """
    band = F.floor(F.length(F.col(text_col)) / F.lit(length_band))
    t = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text"),
        *[F.col(c) for c in (block_cols or [])],
        band.alias("__band"),
    )
    keys = (block_cols or []) + ["__band"]
    a = t.withColumnsRenamed({"__id": "id_a", "__text": "__ta"})
    # the right side fans out to every band within reach of a qualifying
    # pair; each candidate pair then meets at exactly one key (a's band)
    span = max_distance // length_band + 1
    b = (
        t.withColumnsRenamed({"__id": "id_b", "__text": "__tb"})
        .withColumn(
            "__band",
            F.explode(
                F.array(*[F.col("__band") + F.lit(d) for d in range(-span, span + 1)])
            ),
        )
    )
    # Two sound prunings (result set unchanged, so the SQL oracle needn't
    # mirror them): |len(a)−len(b)| is a lower bound on edit distance, and
    # the thresholded levenshtein runs the banded O(len·k) DP instead of
    # the full O(len²) matrix, returning −1 above the cutoff.  Measured
    # 78 s → ~4 s at sf0.1.
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length(F.col("__ta")) - F.length(F.col("__tb")))
            <= F.lit(max_distance)
        )
        .withColumn(
            "lev", F.levenshtein(F.col("__ta"), F.col("__tb"), max_distance)
        )
        .filter(F.col("lev") >= 0)
        .select("id_a", "id_b", "lev")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_overlap: int = 2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination ([EXT]): flag corpus documents that share
    ``min_overlap``+ distinct word-``n``-grams with any benchmark/eval
    document — the standard leakage check before training on crawled data.

    Same posting-list shape as `jaccard_pairs`: one shuffle on ``shingle``;
    the benchmark side is eval-set-sized, so its postings broadcast.
    ``max_shingle_df`` frequency-caps boilerplate shingles at corpus scale
    (changes recall, documented trade).  Output per contaminated doc:
    (id, n_benchmark_docs, max_shared, total_shared).
    """
    c = shingles(corpus, id_col, text_col, n)
    b = shingles(benchmark, id_col, text_col, n).withColumnRenamed(
        id_col, "__bench_id"
    )
    if max_shingle_df is not None:
        df_counts = c.groupBy("shingle").count().filter(
            F.col("count") <= max_shingle_df
        )
        c = c.join(df_counts.select("shingle"), "shingle")
    pair = (
        c.join(F.broadcast(b), "shingle")
        .groupBy(id_col, "__bench_id")
        .agg(F.count("*").alias("__shared"))
        .filter(F.col("__shared") >= min_overlap)
    )
    return pair.groupBy(id_col).agg(
        F.count("*").alias("n_benchmark_docs"),
        F.max("__shared").alias("max_shared"),
        F.sum("__shared").alias("total_shared"),
    )


def substring_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact substring (k-token span) dedup ([EXT]): trim duplicated token
    spans ACROSS documents, keeping each span's first occurrence — the
    span-level counterpart of document near-dup (the policy popularized by
    the "Deduplicating Training Data" line of work: boilerplate, licenses,
    and mirrored passages are removed from every copy but one, instead of
    dropping or keeping whole documents).

    Shape (all relational, no Python):

    1. Map-side token k-grams with positions (the k-gram ARRAY is persisted
       before the posexplode — the explode-fence rule; see
       ``jaccard_pairs``).  Grouping key is the k-gram STRING: exact (no
       hash collisions) and oracle-identical in any engine; at lake scale
       swap in ``xxhash64(gram)`` to cut shuffle bytes (documented trade:
       a 2⁻⁶⁴ collision could trim a non-duplicate span).
    2. ONE shuffle on ``gram``: ``row_number`` over (doc, pos) — every
       occurrence ranked >1 is a duplicated span to remove.  No self-join,
       so a boilerplate gram appearing in half the corpus costs a sort,
       not O(df²) pairs.
    3. ONE shuffle on the doc id: overlapping/touching spans merge via
       gaps-and-islands (running max of span end), then collect per-doc
       intervals.
    4. Map-side rebuild: tokens whose position falls in no removed
       interval, re-joined with single spaces.  Output text is the
       canonical token stream (lowercased, whitespace-normalized) —
       consistent with the text-operator family.

    Docs shorter than ``k`` tokens pass through untouched.  Output:
    (id, clean_text, n_tokens, n_tokens_removed), one row per input doc.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    grams_expr = F.when(
        F.size("__toks") >= k,
        F.expr(
            f"transform(sequence(0, size(__toks) - {k}), "
            f"i -> concat_ws(' ', slice(__toks, i + 1, {k})))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    base = (
        fan_for_compute(df, min_bytes=0)
        .select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__grams", grams_expr)
        .persist()  # MATERIALIZATION FENCE: feeds the explode AND the rebuild
    )

    occ = base.select(
        F.col(id_col), F.posexplode("__grams").alias("pos", "gram")
    )
    wg = Window.partitionBy("gram").orderBy(F.col(id_col), F.col("pos"))
    spans = (
        occ.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") > 1)  # every non-first occurrence, df>=2 implied
        .select(F.col(id_col), "pos", (F.col("pos") + F.lit(k)).alias("fin"))
    )

    # gaps-and-islands merge of overlapping/touching [pos, fin) spans
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_max_fin = F.max("fin").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = spans.withColumn(
        "__brk", F.when(F.col("pos") > F.coalesce(prev_max_fin, F.lit(-1)), 1).otherwise(0)
    ).withColumn(
        "__island",
        F.sum("__brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = (
        islands.groupBy(id_col, "__island")
        .agg(F.min("pos").alias("s"), F.max("fin").alias("e"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__iv"))
    )

    rebuilt = (
        base.join(intervals, id_col, "left")
        .withColumn("__iv", F.coalesce("__iv", F.expr("CAST(array() AS array<struct<s:int,e:int>>)")))
        .withColumn(
            "__kept",
            # size=0 guard: sequence(0, -1) is DESCENDING in Spark, not empty
            F.when(
                F.size("__toks") > 0,
                F.expr(
                    "filter(sequence(0, size(__toks) - 1), "
                    "i -> NOT exists(__iv, v -> i >= v.s AND i < v.e))"
                ),
            ).otherwise(F.expr("CAST(array() AS array<int>)")),
        )
    )
    return rebuilt.select(
        F.col(id_col),
        F.expr("concat_ws(' ', transform(__kept, i -> __toks[i]))").alias("clean_text"),
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size("__kept")).alias("n_tokens_removed"),
    )


def incremental_jaccard_matches(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Ingest-time (incremental) near-dup check ([EXT]): match a NEW batch
    of documents against an already-indexed corpus WITHOUT recomputing any
    corpus-corpus pair — the shape every continuously-crawling pipeline
    needs: full-corpus dedup is a one-off backfill; day-to-day dedup is
    "does today's batch duplicate anything we already have?".

    Candidate generation joins the delta's shingle rows against the
    CORPUS posting lists only, so the pair space is delta x corpus —
    at 100 TB the postings frame is the persisted index (build once,
    write to the lake partitioned by shingle hash; each batch reads it
    back), and a day's delta is small enough that the join's delta side
    behaves like a dim table.  No old-old work is ever repeated, which
    is the whole point: cost per batch is O(|delta postings|), not
    O(|corpus|^2).

    ``max_shingle_df`` caps posting-list length exactly as in
    `jaccard_pairs` (the skew guard is MORE important here: a boilerplate
    shingle's posting list otherwise grows with corpus age forever).

    Output: one row per new doc with at least one match at
    ``jaccard >= threshold``: (id, n_matches, best_match_id,
    best_jaccard) — best = highest jaccard, ties to the lowest corpus id.
    """
    c_arr = shingle_arrays(fan_for_compute(corpus, min_bytes=0), id_col, text_col, n).persist()
    d_arr = shingle_arrays(delta, id_col, text_col, n).persist()

    posting = (
        c_arr.select(F.col(id_col).alias("__old_id"), F.explode("sh_arr").alias("shingle"))
        .groupBy("shingle")
        .agg(F.collect_list("__old_id").alias("old_ids"))
    )
    if max_shingle_df is not None:
        posting = posting.filter(F.size("old_ids") <= max_shingle_df)

    d_sh = d_arr.select(F.col(id_col).alias("__new_id"), F.explode("sh_arr").alias("shingle"))
    inter = (
        _fan(d_sh, "shingle").join(posting, "shingle")
        .select("__new_id", F.explode("old_ids").alias("__old_id"))
        .groupBy("__new_id", "__old_id")
        .agg(F.count("*").alias("n_common"))
    )

    jaccard = F.round(F.col("n_common") / (F.col("n_new") + F.col("n_old") - F.col("n_common")), 4)
    scored = verify(
        inter, (d_arr, c_arr), id_col, {"__new_id": "_new", "__old_id": "_old"},
        {"n_shingles": "n"}, {"jaccard": jaccard}, threshold, ["__old_id", "__new_id", "jaccard"],
    )
    w = Window.partitionBy("__new_id").orderBy(F.desc("jaccard"), F.asc("__old_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .groupBy("__new_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.max(F.when(F.col("__rn") == 1, F.col("__old_id"))).alias("best_match_id"),
            F.max(F.when(F.col("__rn") == 1, F.col("jaccard"))).alias("best_jaccard"),
        )
        .withColumnRenamed("__new_id", id_col)
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    family, cf. Bayardo et al. "Scaling Up All Pairs Similarity Search"
    and Xiao et al. PPJoin — public algorithms): a second, sharper
    candidate-generation strategy than ``jaccard_pairs``' full posting
    lists.

    Order every document's shingle set by GLOBAL rarity (document
    frequency asc, shingle asc); a pair with Jaccard ≥ t must share at
    least one shingle inside each side's first ``|A| - ceil(t·|A|) + 1``
    shingles (if they only shared later ones, the overlap couldn't reach
    t).  Posting lists are built from PREFIXES only — at t = 0.5 that's
    ~half the postings of the full-list strategy, concentrated on RARE
    shingles (short lists), so pair fan-out collapses without any recall
    loss: the filter is lossless for raw J ≥ t, unlike the df cap.
    Candidates are then verified with one exact set intersection against
    the persisted full arrays.

    The output filter applies the registry's rounded-threshold semantics
    (round(J,4) ≥ t, same as ``jaccard_pairs``); prefixes are sized with
    a half-ulp-of-rounding slack (t − 5e-5) so raw-J values that ROUND
    up to t are still generated.  Same schema as ``jaccard_pairs`` —
    equality is pinned in tests/test_prefix_filter.py and by sharing its
    DuckDB oracle."""
    t_eff = max(threshold - 5e-5, 0.0)
    arrs = shingle_arrays(fan_for_compute(df, min_bytes=0), id_col, text_col, n).persist()
    arrs = arrs.filter(F.col("n_shingles") > 0)
    sh = arrs.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    # per-doc shingles in global-rarity order; prefix slice sized by the
    # doc's own set size — one re-agg shuffle on the doc id
    ranked = (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(__df, shingle))), x -> x.shingle)").alias(
                "__ordered"
            )
        )
        .withColumn(
            "__plen",
            F.size("__ordered")
            - F.ceil(F.lit(t_eff) * F.size("__ordered")).cast("int")
            + F.lit(1),
        )
    )
    prefixes = ranked.select(
        F.col(id_col),
        F.explode(F.expr("slice(__ordered, 1, __plen)")).alias("shingle"),
    )
    posting = (
        prefixes.groupBy("shingle")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = dedup_pairs(posting_pairs(posting, "shingle", "ids"))
    # exact verification against the persisted full arrays (candidate-
    # bounded: two hash joins on the doc id, no re-shingling)
    nc = F.size(F.array_intersect("__s_a", "__s_b"))
    jaccard = F.round(F.col("__nc") / (F.col("n_a") + F.col("n_b") - F.col("__nc")), 4)
    return verify(
        cand, (arrs, arrs), id_col, PAIR_ENDS, {"sh_arr": "__s", "n_shingles": "n"},
        {"__nc": nc, "jaccard": jaccard}, threshold, ["id_a", "id_b", "jaccard"],
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    key_chars: int = 32,
    n: int = 3,
    threshold: float = 0.05,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (the classic record-
    linkage SNM blocking, cf. Hernandez & Stolfo — public algorithm):
    the third candidate-generation strategy next to posting lists
    (``jaccard_pairs``) and rarity prefixes (``prefix_filter_pairs``).

    Sort the corpus by a normalized ``key_chars``-char text-prefix key,
    pair each document with the next ``window − 1`` documents in that
    TOTAL order, then verify trigram Jaccard exactly.  Recall is bounded
    by the window (docs whose keys sort far apart are never compared —
    a documented trade, unlike the lossless prefix filter); cost is
    strictly linear in corpus size: ``window − 1`` candidates per row,
    no posting lists at all, so it is immune to hot-shingle skew by
    construction.

    The global sort uses ``operators/global_order.global_row_number``
    (range repartition + per-partition windows) — NO single-partition
    Window, so the sort scales like any shuffle.  Output schema matches
    ``jaccard_pairs``: (id_a < id_b, jaccard ≥ threshold, rounded 4).
    """
    from .global_order import global_row_number

    if window < 2:
        raise ValueError(f"sorted_neighborhood_pairs: window={window}, must be >= 2")
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "), 1, key_chars
    )
    base = df.select(F.col(id_col), key.alias("__snkey"))
    ranked, _total = global_row_number(
        base, [F.col("__snkey"), F.col(id_col)], "__r"
    )
    a = ranked.select(F.col(id_col).alias("__ia"), F.col("__r").alias("__ra"))
    b = ranked.select(F.col(id_col).alias("__ib"), F.col("__r").alias("__rb"))
    cand = (
        a.withColumn("__o", F.explode(F.expr(f"sequence(1, {window - 1})")))
        .withColumn("__rb", F.col("__ra") + F.col("__o"))
        .join(b, "__rb")
        .select("__ia", "__ib")
    )
    cand = _fan(cand, "__ia")  # per-pair array_intersect is CPU, not bytes
    arrs = shingle_arrays(fan_for_compute(df, min_bytes=0), id_col, text_col, n).persist()
    fa = arrs.select(
        F.col(id_col).alias("__ia"),
        F.col("sh_arr").alias("__sa"),
        F.col("n_shingles").alias("__na"),
    ).filter(F.col("__na") > 0)
    fb = arrs.select(
        F.col(id_col).alias("__ib"),
        F.col("sh_arr").alias("__sb"),
        F.col("n_shingles").alias("__nb"),
    ).filter(F.col("__nb") > 0)
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        cand.join(fa, "__ia")
        .join(fb, "__ib")
        .withColumn("__nc", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__nc") / (F.col("__na") + F.col("__nb") - F.col("__nc")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "jaccard",
        )
    )
