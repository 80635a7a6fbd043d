"""[EXT] The two composed LLM training-data curation flows a corpus
curator runs, wiring the individual operators end-to-end.

The one-off BACKFILL over the whole corpus (``curate_documents``):

    raw corpus (doc_id >= 25; doc_id < 25 is the held-out eval set)
      → exact dedup            (min-id survivor per identical text)
      → near-dup family dedup  (trigram Jaccard ≥ 0.5 → connected
                                components → keep the min-id member)
      → decontam + quality     (shared stages 3 and 4, below)
      → PII redaction          (typed placeholders)
      → deterministic train/val/test split

The day-2 INCREMENTAL flow a continuously-crawling corpus runs on every
new batch (``ingest_batch``; the batch is doc_id ≡ 4 mod 5):

    new batch (delta)
      → exact dedup            (drop in-batch text dups AND texts the
                                corpus already holds — never old-old work)
      → near-dup vs corpus     (incremental trigram-Jaccard ≥ 0.5 matches
                                against corpus posting lists only)
      → decontam + quality     (shared stages 3 and 4, below)
      → classifier gate        (hashed linear model, prob ≥ 0.5)
      → group-leakage-safe split (source-keyed train/val/test)

Both chains share ``_decontam_quality`` — stage 3 drops docs sharing 3+
trigrams with the eval set, stage 4 keeps docs that pass
``operators.text.passes_quality`` — and ``_funnel``, which turns the
stage frames into ``(stage, n_docs)`` rows plus a per-split tail.  The
backfill costs O(corpus² bounded by postings) once; the incremental flow
costs O(|delta postings|) per batch forever after.

`llm_curation_funnel` and `llm_ingest_funnel` expose the stage counts as
contract queries whose DuckDB oracles replay each WHOLE chain in SQL
(exact-dedup keys, the backfill's recursive-CTE component fixpoint,
shingle joins, quality thresholds, the in-SQL classifier fold, md5 split
assignment) — integration-level checks across six operators in one hash.

Every stage frame a funnel counts is persisted: each funnel counts every
stage, and without the persist every count would re-run its whole
upstream dedup/decontam chain.  Each stage then runs ONCE and the funnel
adds only count aggregates over the persisted frames.  Sweep with
``cache.free_cached_blocks`` after consuming.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.classifier import score_documents
from ..operators.components import connected_components
from ..operators.dedup import decontaminate, incremental_jaccard_matches, jaccard_pairs
from ..operators.sampling import split_column
from ..operators.text import passes_quality, quality_metrics, redact_pii
from ..sources.registry import load_table as _t
from .xxh64_sql import PRELUDE as _XXH_PRELUDE
from .xxh64_sql import classifier_wts_ctes as _cls_wts

SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _decontam_quality(s2: DataFrame, bench: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stages 3 and 4 of both chains: drop the docs sharing 3+ trigrams
    with the eval set ``bench``, then keep the docs passing the quality
    gate.  Returns both stage frames, persisted."""
    contaminated = decontaminate(
        s2, bench, "doc_id", "text", n=3, min_overlap=3
    ).select("doc_id")
    s3 = s2.join(contaminated, "doc_id", "left_anti").persist()
    s4 = s3.filter(passes_quality(quality_metrics(F.col("text")))).persist()
    return s3, s4


def curate_documents(spark, sf_dir: str) -> dict[str, DataFrame]:
    """Run the backfill chain; returns every intermediate stage so
    callers (and tests) can audit the funnel."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25).persist()

    # 1: exact dedup — deterministic min-id survivor per identical text
    survivors = corpus.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    s1 = corpus.join(survivors.select("doc_id"), "doc_id", "left_semi").persist()

    # 2: near-dup families — component label IS the min id, so the
    # survivor is exactly the node whose label equals itself
    pairs = jaccard_pairs(s1, "doc_id", "text", n=3, threshold=0.5)
    cc = connected_components(pairs, "id_a", "id_b")
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    s2 = s1.join(losers, "doc_id", "left_anti").persist()
    s3, s4 = _decontam_quality(s2, bench)

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


def ingest_batch(spark, sf_dir: str) -> dict[str, DataFrame]:
    """Run the incremental chain on the delta batch (doc_id ≡ 4 mod 5)
    against the indexed corpus (the rest, minus the doc_id < 25 eval
    set).  Returns every stage for auditing."""
    docs = _t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 4).persist()
    bench = docs.filter((F.col("doc_id") < 25) & (F.col("doc_id") % 5 != 4))
    corpus = docs.filter((F.col("doc_id") % 5 != 4) & (F.col("doc_id") >= 25)).persist()

    # 1: exact dedup — in-batch min-id survivor, then anti-join corpus texts
    in_batch = delta.join(
        delta.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    s1 = in_batch.join(corpus.select("text").distinct(), "text", "left_anti").persist()

    # 2: near-dup vs corpus only (posting-list index join, no old-old)
    matches = incremental_jaccard_matches(
        corpus, s1, "doc_id", "text", n=3, threshold=0.5
    ).select("doc_id")
    s2 = s1.join(matches, "doc_id", "left_anti").persist()
    s3, s4 = _decontam_quality(s2, bench)

    # 5: classifier gate
    keep = score_documents(s4).filter(F.col("prob") >= 0.5).select("doc_id")
    s5 = s4.join(keep, "doc_id", "left_semi").persist()

    # 6: group-leakage-safe split
    admitted = s5.withColumn("split", split_column(["source"], SPLITS, salt="gsplit"))
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


def _funnel(
    stages: list[tuple[str, DataFrame]], tail_prefix: str, split_df: DataFrame
) -> DataFrame:
    """``(stage, n_docs)`` rows: one count per ``(label, frame)`` in
    ``stages``, then one per split of ``split_df``, labelled
    ``tail_prefix + split``."""
    counts = [
        df.agg(F.count("*").alias("n_docs")).select(F.lit(label).alias("stage"), "n_docs")
        for label, df in stages
    ]
    tail = (
        split_df.groupBy("split")
        .agg(F.count("*").alias("n_docs"))
        .select(F.concat(F.lit(tail_prefix), F.col("split")).alias("stage"), "n_docs")
    )
    return reduce(DataFrame.unionAll, counts + [tail])


def llm_curation_funnel(spark, sf_dir):
    """Stage-by-stage funnel of the backfill chain (+ per-split tail
    counts) — the integration contract query."""
    st = curate_documents(spark, sf_dir)
    stages = [("0_raw", st["corpus"]), ("1_exact", st["exact"]), ("2_neardup", st["neardup"]),
              ("3_decontam", st["decontam"]), ("4_quality", st["quality"])]
    return _funnel(stages, "5_", st["curated"])


def llm_ingest_funnel(spark, sf_dir):
    """Stage-by-stage funnel of the incremental chain (+ per-split tail
    counts) — the second integration-level contract query."""
    st = ingest_batch(spark, sf_dir)
    stages = [("0_batch", st["delta"]), ("1_exact", st["exact"]), ("2_neardup", st["neardup"]),
              ("3_decontam", st["decontam"]), ("4_quality", st["quality"]),
              ("5_classifier", st["classified"])]
    return _funnel(stages, "6_", st["admitted"])


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


QUERIES = {
    "llm_curation_funnel": (llm_curation_funnel, _CURATION_FUNNEL_SQL),
    "llm_ingest_funnel": (llm_ingest_funnel, _INGEST_FUNNEL_SQL),
}
