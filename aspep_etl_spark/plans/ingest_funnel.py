"""[EXT] The composed INCREMENTAL ingest pipeline — the day-2 flow a
continuously-crawling corpus runs on every new batch, wiring the round-4
operators end-to-end against an already-indexed corpus:

    new batch (delta)
      → exact dedup            (drop in-batch text dups AND texts the
                                corpus already holds — never old-old work)
      → near-dup vs corpus     (incremental trigram-Jaccard matches
                                against corpus posting lists only)
      → benchmark decontamination (3+ shared trigrams with the eval set)
      → quality gate           (token/stopword/length heuristics)
      → classifier gate        (hashed linear model, prob ≥ 0.5)
      → group-leakage-safe split (source-keyed train/val/test)

`llm_ingest_funnel` exposes stage-by-stage batch counts; the DuckDB
oracle replays the whole chain in SQL (no recursive CTE needed — the
incremental design never clusters the corpus, which is exactly its
point).  Complements `plans/curation.py`'s one-off backfill funnel: that
one costs O(corpus²-bounded-by-postings) once; this one costs
O(|delta postings|) per batch forever after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.classifier import score_documents
from ..operators.dedup import decontaminate, incremental_jaccard_matches
from ..operators.sampling import split_column
from ..operators.text import quality_metrics
from ..sources.registry import load_table as _t
from .xxh64_sql import PRELUDE as _XXH_PRELUDE
from .xxh64_sql import classifier_wts_ctes as _cls_wts

SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def ingest_batch(
    spark,
    sf_dir: str,
    jaccard_threshold: float = 0.5,
    decontam_overlap: int = 3,
    min_prob: float = 0.5,
    materialize: bool = False,
) -> dict[str, DataFrame]:
    """Run the ingest chain on the delta batch (doc_id ≡ 4 mod 5)
    against the indexed corpus (the rest, minus the doc_id < 25 eval
    set).  Returns every stage for auditing; ``materialize=True``
    persists stages consumed more than once (sweep with
    ``cache.free_cached_blocks`` after)."""

    def _m(df: DataFrame) -> DataFrame:
        return df.persist() if materialize else df

    docs = _t(spark, sf_dir, "documents")
    delta = _m(docs.filter(F.col("doc_id") % 5 == 4))
    bench = docs.filter((F.col("doc_id") < 25) & (F.col("doc_id") % 5 != 4))
    corpus = _m(
        docs.filter((F.col("doc_id") % 5 != 4) & (F.col("doc_id") >= 25))
    )

    # 1: exact dedup — in-batch min-id survivor, then anti-join corpus texts
    in_batch = delta.join(
        delta.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    s1 = _m(
        in_batch.join(corpus.select("text").distinct(), "text", "left_anti")
    )

    # 2: near-dup vs corpus only (posting-list index join, no old-old)
    matches = incremental_jaccard_matches(
        corpus, s1, "doc_id", "text", n=3, threshold=jaccard_threshold
    ).select("doc_id")
    s2 = _m(s1.join(matches, "doc_id", "left_anti"))

    # 3: benchmark decontamination
    contaminated = decontaminate(
        s2, bench, "doc_id", "text", n=3, min_overlap=decontam_overlap
    ).select("doc_id")
    s3 = _m(s2.join(contaminated, "doc_id", "left_anti"))

    # 4: quality gate (same thresholds as the curation funnel)
    m = quality_metrics(F.col("text"))
    s4 = _m(
        s3.withColumn("__nt", m["n_tokens"])
        .withColumn("__sr", m["stopword_ratio"])
        .withColumn("__ml", m["mean_token_len"])
        .filter(
            (F.col("__nt") >= 20)
            & (F.col("__sr") <= 0.35)
            & (F.col("__ml").between(2.0, 12.0))
        )
        .drop("__nt", "__sr", "__ml")
    )

    # 5: classifier gate
    keep = score_documents(s4).filter(F.col("prob") >= min_prob).select("doc_id")
    s5 = _m(s4.join(keep, "doc_id", "left_semi"))

    # 6: group-leakage-safe split
    admitted = s5.withColumn(
        "split", split_column(["source"], SPLITS, salt="gsplit")
    )
    return {
        "delta": delta,
        "corpus": corpus,
        "exact": s1,
        "neardup": s2,
        "decontam": s3,
        "quality": s4,
        "classified": s5,
        "admitted": admitted,
    }


def _stage_count(df: DataFrame, label: str) -> DataFrame:
    return df.agg(F.count("*").alias("n_docs")).select(
        F.lit(label).alias("stage"), "n_docs"
    )


def llm_ingest_funnel(spark, sf_dir):
    """Stage-by-stage funnel of the incremental ingest pipeline (+
    per-split tail counts) — the second integration-level contract
    query.  Stages are materialized: the count branches would otherwise
    each re-execute the upstream chain."""
    st = ingest_batch(spark, sf_dir, materialize=True)
    funnel = (
        _stage_count(st["delta"], "0_batch")
        .unionAll(_stage_count(st["exact"], "1_exact"))
        .unionAll(_stage_count(st["neardup"], "2_neardup"))
        .unionAll(_stage_count(st["decontam"], "3_decontam"))
        .unionAll(_stage_count(st["quality"], "4_quality"))
        .unionAll(_stage_count(st["classified"], "5_classifier"))
    )
    splits = (
        st["admitted"]
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
        .select(F.concat(F.lit("6_"), F.col("split")).alias("stage"), "n_docs")
    )
    return funnel.unionAll(splits)


_INGEST_FUNNEL_SQL = f"""{_XXH_PRELUDE}
WITH delta AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % 5 = 4
), corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4 AND doc_id >= 25
), bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 25 AND doc_id % 5 <> 4
), s1 AS (
  SELECT d.doc_id, d.text, d.source FROM delta d
  JOIN (SELECT min(doc_id) AS doc_id FROM delta GROUP BY text) k USING (doc_id)
  WHERE d.text NOT IN (SELECT text FROM corpus)
), dwords AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM s1
), dtri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM dwords, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), cwords AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM corpus
), ctri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM cwords, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), dsizes AS (
  SELECT doc_id, count(*) AS n FROM dtri GROUP BY doc_id
), csizes AS (
  SELECT doc_id, count(*) AS n FROM ctri GROUP BY doc_id
), matched AS (
  SELECT DISTINCT i.new_id AS doc_id FROM (
    SELECT d.doc_id AS new_id, c.doc_id AS old_id, count(*) AS n_common
    FROM dtri d JOIN ctri c USING (sh)
    GROUP BY 1, 2) i
  JOIN dsizes sn ON sn.doc_id = i.new_id
  JOIN csizes so ON so.doc_id = i.old_id
  WHERE round(i.n_common / (sn.n + so.n - i.n_common), 4) >= 0.5
), s2 AS (
  SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM matched)
), bwords AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM bench
), btri AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM bwords, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), contaminated AS (
  SELECT DISTINCT c.doc_id FROM (
    SELECT * FROM dtri WHERE doc_id IN (SELECT doc_id FROM s2)) c
  JOIN btri b USING (sh)
  GROUP BY c.doc_id, b.doc_id
  HAVING count(*) >= 3
), s3 AS (
  SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), qbase AS (
  SELECT doc_id, text, source,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|a|is)\\b')) AS stop,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum
  FROM s3
), s4 AS (
  SELECT doc_id, text, source FROM qbase
  WHERE n_tokens >= 20
    AND round(stop / greatest(n_tokens, 1), 4) <= 0.35
    AND round(alnum / greatest(n_tokens, 1), 4) BETWEEN 2.0 AND 12.0
), {_cls_wts("s4")}, scored AS (
  SELECT w.doc_id, s4.source,
         round(1.0 / (1.0 + exp(-round(
           list_reduce(list_prepend(0.0::DOUBLE, wv),
             (a, b) -> a + b) / len(wv), 6))), 6) AS prob
  FROM wts w JOIN s4 USING (doc_id)
), s5 AS (
  SELECT doc_id, source FROM scored WHERE prob >= 0.5
), admitted AS (
  SELECT doc_id,
         CASE WHEN h < 'cccccccc' THEN 'train'
              WHEN h < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, substr(md5('gsplit' || '|' || source), 1, 8) AS h FROM s5)
)
SELECT '0_batch' AS stage, count(*)::BIGINT AS n_docs FROM delta
UNION ALL SELECT '1_exact', count(*)::BIGINT FROM s1
UNION ALL SELECT '2_neardup', count(*)::BIGINT FROM s2
UNION ALL SELECT '3_decontam', count(*)::BIGINT FROM s3
UNION ALL SELECT '4_quality', count(*)::BIGINT FROM s4
UNION ALL SELECT '5_classifier', count(*)::BIGINT FROM s5
UNION ALL SELECT '6_' || split, count(*)::BIGINT FROM admitted GROUP BY split
"""


QUERIES = {"llm_ingest_funnel": (llm_ingest_funnel, _INGEST_FUNNEL_SQL)}
