"""[EXT] Scale-path LLM-pipeline contract queries, round 4:

- hashed linear classifier scoring (fasttext-style quality gate),
- Bloom-filter decontamination pre-screen with false-positive
  accounting (the visible analog of Spark's internal runtime bloom
  pruning),
- stupid-backoff bigram LM scoring on a held-out half (the backoff
  branch genuinely fires — unseen bigrams exist by construction),
- incremental delta-vs-corpus near-dup (ingest-time dedup that never
  recomputes old-old pairs).

Every query has a DuckDB oracle.  Cross-engine integer hashing uses the
md5 8-hex-prefix trick (`conv(_,16,10)` / `CAST('0x'||_ AS BIGINT)`)
for per-ROW draws, and native ``xxhash64`` with the XXH64 macro twin
(``xxh64_sql.py``) for the per-FEATURE classifier hash (r9 — the md5
fold was the measured per-feature hot path); double sums that must
hash-match are ORDERED LEFT FOLDS on both engines (`F.aggregate` /
`list_reduce`), never engine-chosen summation orders.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.bloom import bloom_build, bloom_probe
from ..operators.classifier import score_documents
from ..operators.dedup import incremental_jaccard_matches, shingles
from ..operators.text import WORD_RE
from ..sources.registry import fan_for_compute, load_table as _t
from .xxh64_sql import PRELUDE as _XXH_PRELUDE
from .xxh64_sql import classifier_wts_ctes as _cls_wts


def docs_classifier_score(spark, sf_dir):
    """Quality-classifier sweep: hashed unigram+bigram linear model +
    sigmoid per document.  Map-only — the plan has zero Exchanges; at
    100 TB this is a scan-bound single pass, the cheapest possible shape
    for a corpus-wide model gate."""
    docs = fan_for_compute(_t(spark, sf_dir, "documents"))
    return score_documents(docs, "text", "doc_id", dim=4096)


_CLASSIFIER_SQL = f"""{_XXH_PRELUDE}
WITH {_cls_wts()},
folded AS (
  SELECT doc_id, len(wv)::BIGINT AS n_features,
         round(list_reduce(list_prepend(0.0::DOUBLE, wv), (a, b) -> a + b)
               / len(wv), 6)
           AS score
  FROM wts
)
SELECT doc_id, n_features, score,
       round(1.0 / (1.0 + exp(-score)), 6) AS prob
FROM folded
"""


def docs_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination pre-screen: insert the eval set's
    (doc_id < 25) distinct trigram shingles into a 16384-bit / 3-hash
    bloom, probe every training-corpus shingle, and account per doc for
    bloom candidates vs exact matches vs false positives.

    The filter relation is 512 rows regardless of eval-set size, so the
    probe join broadcasts by construction; at 100 TB the probe is a
    map-side pre-filter that spares the exact posting-list join from
    touching the overwhelming majority of clean shingles.  False
    negatives are structurally impossible (asserted in tests); false
    positives are quantified here instead of silently tolerated."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") < 25)
    corp = docs.filter(F.col("doc_id") >= 25)
    ev_sh = shingles(ev, "doc_id", "text", n=3).select("shingle").distinct()
    bloom = bloom_build(ev_sh, "shingle", m_bits=16384, k=3)
    corp_sh = shingles(corp, "doc_id", "text", n=3)
    probed = bloom_probe(corp_sh, "shingle", bloom, m_bits=16384, k=3)
    truth = ev_sh.withColumn("__t", F.lit(1))
    per = (
        probed.join(truth, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_candidates"),
            F.sum(F.coalesce(F.col("__t"), F.lit(0)).cast("long")).alias(
                "n_true_matches"
            ),
            F.sum(
                (F.col("bloom_pass") & F.col("__t").isNull()).cast("long")
            ).alias("n_false_positives"),
        )
    )
    return per.filter(F.col("n_bloom_candidates") >= 1)


_BLOOM_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), ev AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id < 25
), epos AS (
  SELECT CAST('0x' || substr(md5(s.seed::VARCHAR || '|' || ev.sh), 1, 8) AS BIGINT)
           % 16384 AS pos
  FROM ev, (SELECT unnest([1, 2, 3]) AS seed) s
), bloom AS (
  SELECT pos // 32 AS word_idx,
         bit_or(1::BIGINT << (pos % 32)::INT) AS bits
  FROM epos GROUP BY 1
), probe AS (
  SELECT sh.doc_id, sh.sh,
         CAST('0x' || substr(md5(s.seed::VARCHAR || '|' || sh.sh), 1, 8) AS BIGINT)
           % 16384 AS pos
  FROM sh, (SELECT unnest([1, 2, 3]) AS seed) s
  WHERE sh.doc_id >= 25
), hits AS (
  SELECT p.doc_id, p.sh,
         CASE WHEN (coalesce(b.bits, 0) >> (p.pos % 32)::INT) % 2 = 1
              THEN 1 ELSE 0 END AS hit
  FROM probe p LEFT JOIN bloom b ON p.pos // 32 = b.word_idx
), verdict AS (
  SELECT doc_id, sh, CASE WHEN sum(hit) = 3 THEN 1 ELSE 0 END AS bloom_pass
  FROM hits GROUP BY doc_id, sh
), flagged AS (
  SELECT v.doc_id, v.sh, v.bloom_pass,
         CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM verdict v LEFT JOIN ev ON v.sh = ev.sh
)
SELECT doc_id,
       count(*)::BIGINT                                        AS n_shingles,
       sum(bloom_pass)::BIGINT                                 AS n_bloom_candidates,
       sum(is_true)::BIGINT                                    AS n_true_matches,
       sum(CASE WHEN bloom_pass = 1 AND is_true = 0 THEN 1 ELSE 0 END)::BIGINT
                                                               AS n_false_positives
FROM flagged GROUP BY doc_id
HAVING sum(bloom_pass) >= 1
"""


def docs_bigram_logprob(spark, sf_dir):
    """Stupid-backoff bigram LM quality score: train bigram/unigram
    counts on the even-doc_id half, score the odd half's bigrams with
    s = c(prev,cur)/c(prev) when seen, else 0.4·(c(cur)+1)/(T+V).
    Held-out split means the backoff branch genuinely fires (unseen
    bigrams exist by construction).  Two count shuffles + one scoring
    aggregate; the count joins are AQE-broadcastable at dim-sized
    vocabularies and plain shuffle joins at web-corpus vocabularies."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
    pairs_arr = F.expr(
        "transform(sequence(0, size(__toks) - 2), "
        "i -> struct(__toks[i] AS prev, __toks[i + 1] AS cur))"
    )
    # Persist before exploding: the pair array derives from the regex
    # chain (the explode-fence rule documented in operators/dedup.py).
    based = (
        docs.withColumn("__toks", toks)
        .filter(F.size("__toks") >= 2)
        .select("doc_id", pairs_arr.alias("__pairs"), F.col("__toks"))
        .persist()
    )
    bi_rows = based.select(
        "doc_id", F.explode("__pairs").alias("p")
    ).select("doc_id", "p.prev", "p.cur")
    tok_rows = based.select("doc_id", F.explode("__toks").alias("tok"))

    train_bi = (
        bi_rows.filter(F.col("doc_id") % 2 == 0)
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c_bi"))
    )
    train_uni = (
        tok_rows.filter(F.col("doc_id") % 2 == 0)
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    totals = train_uni.agg(
        F.sum("c_uni").alias("t_tokens"), F.count("*").alias("v_vocab")
    )

    scored = (
        bi_rows.filter(F.col("doc_id") % 2 == 1)
        .join(train_bi, ["prev", "cur"], "left")
        .join(
            train_uni.select(
                F.col("tok").alias("prev"), F.col("c_uni").alias("c_prev")
            ),
            "prev",
            "left",
        )
        .join(
            train_uni.select(
                F.col("tok").alias("cur"), F.col("c_uni").alias("c_cur")
            ),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "__s",
            F.when(F.col("c_bi").isNotNull(), F.col("c_bi") / F.col("c_prev"))
            .otherwise(
                F.lit(0.4)
                * (F.coalesce(F.col("c_cur"), F.lit(0)) + 1)
                / (F.col("t_tokens") + F.col("v_vocab"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(F.log10("__s")), 6).alias("avg_logprob"),
    )


_BIGRAM_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), base AS (
  SELECT doc_id, w FROM words WHERE len(w) >= 2
), bi AS (
  SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
  FROM base, UNNEST(range(1, len(w))) AS t(i)
), toks AS (
  SELECT doc_id, unnest(w) AS tok FROM base
), train_bi AS (
  SELECT prev, cur, count(*) AS c_bi FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2
), train_uni AS (
  SELECT tok, count(*) AS c_uni FROM toks WHERE doc_id % 2 = 0 GROUP BY tok
), totals AS (
  SELECT sum(c_uni) AS t_tokens, count(*) AS v_vocab FROM train_uni
), scored AS (
  SELECT b.doc_id,
         CASE WHEN tb.c_bi IS NOT NULL THEN tb.c_bi / up.c_uni
              ELSE 0.4 * (coalesce(uc.c_uni, 0) + 1) / (t.t_tokens + t.v_vocab)
         END AS s
  FROM bi b
  LEFT JOIN train_bi tb ON b.prev = tb.prev AND b.cur = tb.cur
  LEFT JOIN train_uni up ON b.prev = up.tok
  LEFT JOIN train_uni uc ON b.cur = uc.tok
  CROSS JOIN totals t
  WHERE b.doc_id % 2 = 1
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(log10(s)), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def dedup_incremental(spark, sf_dir):
    """Ingest-time dedup: docs with doc_id % 5 = 4 play the NEW batch,
    the rest the indexed corpus; each new doc is matched against corpus
    posting lists only (no old-old recompute).  Output: per new doc with
    a Jaccard >= 0.05 match, the match count and the best corpus match."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    return incremental_jaccard_matches(
        corpus, delta, "doc_id", "text", n=3, threshold=0.05
    )


_INCREMENTAL_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), tri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
), inter AS (
  SELECT d.doc_id AS new_id, c.doc_id AS old_id, count(*) AS n_common
  FROM tri d JOIN tri c USING (sh)
  WHERE d.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
  GROUP BY 1, 2
), scored AS (
  SELECT new_id, old_id,
         round(n_common / (sn.n + so.n - n_common), 4) AS jaccard
  FROM inter
  JOIN sizes sn ON sn.doc_id = new_id
  JOIN sizes so ON so.doc_id = old_id
  WHERE round(n_common / (sn.n + so.n - n_common), 4) >= 0.05
), ranked AS (
  SELECT new_id, old_id, jaccard,
         row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, old_id)
           AS rn
  FROM scored
)
SELECT new_id AS doc_id, count(*)::BIGINT AS n_matches,
       max(CASE WHEN rn = 1 THEN old_id END)  AS best_match_id,
       max(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard
FROM ranked GROUP BY new_id
"""


def docs_grouped_split(spark, sf_dir):
    """Group-leakage-safe train/val/test split: the split is hashed from
    the SOURCE (the group key), not the row, so every document of a
    source lands in the same split — the standard defence against
    near-duplicate leakage across splits when a crawl source repeats
    itself.  Output: docs per (source, split); the invariant that each
    source maps to exactly one split is pinned in tests.  Zero-Exchange
    selection (the hash rides the scan), one aggregate."""
    from ..operators.sampling import split_column

    docs = _t(spark, sf_dir, "documents")
    assigned = docs.withColumn(
        "split",
        split_column(["source"], {"train": 0.8, "val": 0.1, "test": 0.1}, salt="gsplit"),
    )
    return assigned.groupBy("source", "split").agg(F.count("*").alias("n_docs"))


_GROUPED_SPLIT_SQL = """
SELECT source,
       CASE WHEN h < 'cccccccc' THEN 'train'
            WHEN h < 'e6666666' THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs
FROM (SELECT source, substr(md5('gsplit' || '|' || source), 1, 8) AS h
      FROM documents)
GROUP BY 1, 2
"""


QUERIES = {
    "docs_classifier_score": (docs_classifier_score, _CLASSIFIER_SQL),
    "docs_bloom_decontaminate": (docs_bloom_decontaminate, _BLOOM_SQL),
    "docs_bigram_logprob": (docs_bigram_logprob, _BIGRAM_SQL),
    "dedup_incremental": (dedup_incremental, _INCREMENTAL_SQL),
    "docs_grouped_split": (docs_grouped_split, _GROUPED_SPLIT_SQL),
}
