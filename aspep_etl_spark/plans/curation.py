"""[EXT] The composed LLM training-data curation pipeline — the flow a
corpus curator actually runs, wiring the individual operators end-to-end:

    raw corpus
      → exact dedup            (min-id survivor per identical text)
      → near-dup family dedup  (trigram Jaccard ≥ 0.5 → connected
                                components → keep the min-id member)
      → benchmark decontamination (drop docs sharing 3+ trigrams with the
                                held-out eval set)
      → quality gate           (token/stopword/length heuristics)
      → PII redaction          (typed placeholders)
      → deterministic train/val/test split

`llm_curation_funnel` exposes the stage-by-stage document counts as a
contract query whose DuckDB oracle replays the ENTIRE pipeline in SQL
(exact-dedup keys, the recursive-CTE component fixpoint, shingle joins,
quality thresholds, md5 split assignment) — an integration-level
correctness check across six operators in one hash.

Scale shape: every stage is the already-audited operator plan (posting
lists, one keyed shuffle per dedup family step, map-only filters); with
``materialize=True`` each stage runs ONCE and the funnel adds only count
aggregates over the persisted frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.dedup import decontaminate, jaccard_pairs
from ..operators.sampling import split_column
from ..operators.text import quality_metrics, redact_pii
from ..sources.registry import load_table as _t

SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def curate_documents(
    spark,
    sf_dir: str,
    bench_max_id: int = 25,
    jaccard_threshold: float = 0.5,
    decontam_overlap: int = 3,
    materialize: bool = False,
) -> dict[str, DataFrame]:
    """Run the curation chain; returns every intermediate stage so callers
    (and tests) can audit the funnel.

    ``materialize=True`` persists each stage frame — REQUIRED when a
    caller consumes several stages (the funnel reads all six): without
    it, every consumer re-executes the whole upstream dedup/decontam
    chain, which at corpus scale is multiple redundant full passes.
    Sweep with ``cache.free_cached_blocks`` after consuming."""

    def _m(df: DataFrame) -> DataFrame:
        return df.persist() if materialize else df

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < bench_max_id)
    corpus = _m(docs.filter(F.col("doc_id") >= bench_max_id))

    # 1: exact dedup — deterministic min-id survivor per identical text
    survivors = corpus.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    s1 = _m(corpus.join(survivors.select("doc_id"), "doc_id", "left_semi"))

    # 2: near-dup families — component label IS the min id, so the
    # survivor is exactly the node whose label equals itself
    pairs = jaccard_pairs(s1, "doc_id", "text", n=3, threshold=jaccard_threshold)
    cc = connected_components(pairs, "id_a", "id_b")
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    s2 = _m(s1.join(losers, "doc_id", "left_anti"))

    # 3: benchmark decontamination
    contaminated = decontaminate(
        s2, bench, "doc_id", "text", n=3, min_overlap=decontam_overlap
    ).select("doc_id")
    s3 = _m(s2.join(contaminated, "doc_id", "left_anti"))

    # 4: quality gate (same thresholds as docs_quality_filter)
    m = quality_metrics(F.col("text"))
    s4 = (
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
    s4 = _m(s4)

    # 5: redact + split
    curated = s4.withColumn("text", redact_pii(F.col("text"))).withColumn(
        "split", split_column(["doc_id"], SPLITS)
    )
    return {
        "bench": bench,
        "corpus": corpus,
        "exact": s1,
        "neardup": s2,
        "decontam": s3,
        "quality": s4,
        "curated": curated,
    }


def _stage_count(df: DataFrame, label: str) -> DataFrame:
    return df.agg(F.count("*").alias("n_docs")).select(
        F.lit(label).alias("stage"), "n_docs"
    )


def llm_curation_funnel(spark, sf_dir):
    """Stage-by-stage funnel of the curation pipeline (+ per-split tail
    counts) — the integration contract query.  Stages are materialized:
    the six count branches would otherwise each re-execute the whole
    upstream chain."""
    st = curate_documents(spark, sf_dir, materialize=True)
    funnel = (
        _stage_count(st["corpus"], "0_raw")
        .unionAll(_stage_count(st["exact"], "1_exact"))
        .unionAll(_stage_count(st["neardup"], "2_neardup"))
        .unionAll(_stage_count(st["decontam"], "3_decontam"))
        .unionAll(_stage_count(st["quality"], "4_quality"))
    )
    splits = (
        st["curated"]
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
        .select(F.concat(F.lit("5_"), F.col("split")).alias("stage"), "n_docs")
    )
    return funnel.unionAll(splits)


_CURATION_FUNNEL_SQL = """
WITH RECURSIVE corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id >= 25
), s1 AS MATERIALIZED (
  SELECT c.doc_id, c.text FROM corpus c
  JOIN (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text) k USING (doc_id)
), words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM s1
), tri AS MATERIALIZED (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM tri a JOIN tri b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.5
), edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
), reach AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.node
), cc AS MATERIALIZED (
  SELECT node, min(r) AS component FROM reach GROUP BY node
), s2 AS MATERIALIZED (
  SELECT doc_id, text FROM s1
  WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)
), bwords AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents WHERE doc_id < 25
), btri AS MATERIALIZED (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM bwords, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT * FROM tri WHERE doc_id IN (SELECT doc_id FROM s2)) c
  JOIN btri b USING (sh)
  GROUP BY c.doc_id, b.doc_id
  HAVING count(*) >= 3
), s3 AS MATERIALIZED (
  SELECT doc_id, text FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), qbase AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|a|is)\\b')) AS stop,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum
  FROM s3
), s4 AS MATERIALIZED (
  SELECT doc_id FROM qbase
  WHERE n_tokens >= 20
    AND round(stop / greatest(n_tokens, 1), 4) <= 0.35
    AND round(alnum / greatest(n_tokens, 1), 4) BETWEEN 2.0 AND 12.0
), cur AS (
  SELECT doc_id,
         CASE WHEN h < 'cccccccc' THEN 'train'
              WHEN h < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, substr(md5('split' || '|' || doc_id::VARCHAR), 1, 8) AS h
        FROM s4)
)
SELECT '0_raw' AS stage, count(*)::BIGINT AS n_docs FROM corpus
UNION ALL SELECT '1_exact', count(*)::BIGINT FROM s1
UNION ALL SELECT '2_neardup', count(*)::BIGINT FROM s2
UNION ALL SELECT '3_decontam', count(*)::BIGINT FROM s3
UNION ALL SELECT '4_quality', count(*)::BIGINT FROM s4
UNION ALL SELECT '5_' || split, count(*)::BIGINT FROM cur GROUP BY split
"""


QUERIES = {"llm_curation_funnel": (llm_curation_funnel, _CURATION_FUNNEL_SQL)}
