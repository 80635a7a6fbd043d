"""[EXT] Additional LLM-training-data-pipeline contract queries:
within-document repetition signals, duplicate-family clustering
(connected components over near-dup pairs), and embedding quantization
accounting.  Each has a DuckDB oracle twin (the connected-components
oracle is a recursive CTE computing the same min-label fixpoint).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.dedup import jaccard_pairs
from ..operators.quantize import with_quantize_stats
from ..operators.text import pii_pattern_counts, redact_pii, repetition_metrics
from ..sources.registry import load_table as _t


def docs_repetition(spark, sf_dir):
    """Repetition-quality signals per document (Gopher-style filters):
    distinct-token ratio, top-bigram fraction, longest identical-token
    run — one map-only scan, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    m = repetition_metrics(F.col("text"))
    return (
        docs.withColumn("__toks", m["__toks"])
        .filter(F.size("__toks") >= 2)
        .withColumn("__bi", m["__bi"])
        .select(
            "doc_id",
            m["distinct_token_ratio"].alias("distinct_token_ratio"),
            m["top_bigram_fraction"].alias("top_bigram_fraction"),
            m["max_token_run"].alias("max_token_run"),
        )
    )


_DOCS_REPETITION_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), base AS (
  SELECT doc_id, w,
         [w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))] AS bi
  FROM words WHERE len(w) >= 2
), toks AS (
  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM base
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) = tok
              THEN 0 ELSE 1 END AS is_start
  FROM toks
), grp AS (
  SELECT doc_id, sum(is_start) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk
), runs AS (
  SELECT doc_id, max(cnt) AS max_token_run FROM (
    SELECT doc_id, g, count(*) AS cnt FROM grp GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id,
       round(len(list_distinct(b.w))::DOUBLE / len(b.w), 4) AS distinct_token_ratio,
       round(list_max([len(list_filter(b.bi, y -> y = x)) FOR x IN list_distinct(b.bi)])::DOUBLE
             / len(b.bi), 4)                                AS top_bigram_fraction,
       r.max_token_run::BIGINT                              AS max_token_run
FROM base b JOIN runs r ON b.doc_id = r.doc_id
"""


def dedup_clusters(spark, sf_dir):
    """Duplicate-family clustering: n-gram Jaccard near-dup pairs →
    connected components (min-label propagation with pointer jumping) →
    one row per member doc with its component label and family size."""
    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05)
    cc = connected_components(pairs, "id_a", "id_b")
    sizes = cc.groupBy("component").agg(F.count("*").alias("n_members"))
    return (
        cc.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "n_members")
    )


_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
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
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.05
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
), fam AS (
  SELECT component, count(*)::BIGINT AS n_members FROM cc GROUP BY component
)
SELECT cc.node AS doc_id, cc.component, fam.n_members
FROM cc JOIN fam USING (component)
"""


def embedding_quantization(spark, sf_dir):
    """Int8 min/max quantization accounting per label: average scale and
    reconstruction error — the storage-shrink audit before ANN indexing."""
    emb = _t(spark, sf_dir, "embeddings")
    q = with_quantize_stats(emb, "embedding")
    return q.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("q_scale"), 6).alias("avg_scale"),
        F.round(F.avg("q_max_err"), 6).alias("avg_max_err"),
        F.round(F.max("q_max_err"), 6).alias("max_max_err"),
    )


_EMB_QUANT_SQL = """
WITH v AS (
  SELECT label, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT label, e, list_min(e) AS mn,
         CASE WHEN list_max(e) > list_min(e)
              THEN (list_max(e) - list_min(e)) / 255.0 ELSE 1.0 END AS scale
  FROM v
), err AS (
  SELECT label, scale,
         list_max([abs(x - (mn + CAST(floor((x - mn) / scale + 0.5) AS INT) * scale))
                   FOR x IN e]) AS q_max_err
  FROM s
)
SELECT label, count(*)::BIGINT AS n_vectors,
       round(avg(scale), 6)     AS avg_scale,
       round(avg(q_max_err), 6) AS avg_max_err,
       round(max(q_max_err), 6) AS max_max_err
FROM err GROUP BY label
"""


def pii_scan(spark, sf_dir):
    """PII scrubbing, oracle-checked end-to-end.  The synthetic corpus has
    no PII signal, so the query SYNTHESIZES it deterministically in-plan —
    every doc gets a doc_id-derived email, every 3rd a phone, every 5th an
    IPv4, every 7th a URL — then scans (typed hit counts) and redacts
    (typed placeholders), returning an md5 of the redacted text so the
    DuckDB twin must reproduce the scrub byte-for-byte.  All codegen regex;
    one map-only pass, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), sid, F.lit("@example.com"),
            F.when(
                sid % 3 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((sid % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((sid % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                sid % 5 == 0,
                F.concat(
                    F.lit(" from 10.0."), (sid % 256).cast("string"),
                    F.lit("."), ((sid * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                sid % 7 == 0,
                F.concat(F.lit(" see https://tracker.example/u/"), sid),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = pii_pattern_counts(F.col("text"))
    return salted.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        F.md5(redact_pii(F.col("text"))).alias("redacted_hash"),
    )


_PII_SCAN_SQL = """
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                      || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' see https://tracker.example/u/' || doc_id
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(lower(text), 'https?://[^\\s]+'))::BIGINT AS n_url,
       len(regexp_extract_all(lower(text), '\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b'))::BIGINT AS n_phone,
       len(regexp_extract_all(lower(text), '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::BIGINT AS n_ipv4,
       md5(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '(?i)https?://[^\\s]+', '[URL]', 'g'),
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
             '(?i)\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b', '[PHONE]', 'g'),
           '(?i)\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IPV4]', 'g')
       ) AS redacted_hash
FROM salted
"""


def docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination: treat doc_id < 25 as the held-out eval
    set and flag training-corpus docs (doc_id >= 25) sharing 3+ distinct
    trigram shingles with any eval doc — the leakage check every serious
    pretraining pipeline runs.  Posting-list join on shingle (one
    shuffle); eval postings broadcast."""
    from ..operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25)
    return decontaminate(corpus, bench, "doc_id", "text", n=3, min_overlap=3)


_DECONTAMINATE_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), pair AS (
  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
  FROM sh c JOIN sh b USING (sh)
  WHERE c.doc_id >= 25 AND b.doc_id < 25
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT doc_id, count(*)::BIGINT AS n_benchmark_docs,
       max(shared)::BIGINT AS max_shared, sum(shared)::BIGINT AS total_shared
FROM pair GROUP BY doc_id
"""


def docs_unigram_logprob(spark, sf_dir):
    """Self-trained unigram LM score per document — average token
    log10-probability under the corpus's own unigram distribution, the
    cheapest perplexity proxy for quality ranking (low score = unusual
    token mix).  Two shuffles: the vocab count and the per-doc aggregate;
    the token→frequency join is AQE-broadcastable at dim-sized vocabs and
    a plain shuffle join at web-corpus vocabs."""
    from ..operators.text import WORD_RE

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log10(F.col("c") / F.col("t"))), 6).alias("avg_logprob"),
        )
    )


_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT sum(c) AS t FROM freq
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(log10(c / t)), 6) AS avg_logprob
FROM toks JOIN freq USING (tok), tot
GROUP BY doc_id
"""


def embedding_top_component(spark, sf_dir):
    """Top principal component of the embedding corpus via deterministic
    distributed power iteration (pinned e₀ init, 3 rounds, rounded
    aggregation boundaries) — whole computation unrolls to the DuckDB
    oracle below.  Output: (pos, loading), 64 rows."""
    from ..operators.eigen import top_eigenvector

    emb = _t(spark, sf_dir, "embeddings")
    return top_eigenvector(emb, "embedding", iters=3, round_dp=6)


def _power_iter_sql(dim: int = 64, iters: int = 3, dp: int = 6) -> str:
    """Unroll the power iteration as CTEs: same init, same rounded
    weighted sums, same rounded normalization, 1-based DuckDB subscripts
    shifted to Spark's 0-based posexplode positions."""
    parts = [
        f"""WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
mu AS (
  SELECT list(m ORDER BY pos) AS m FROM (
    SELECT pos, round(avg(val), {dp}) AS m FROM (
      SELECT unnest(e) AS val, generate_subscripts(e, 1) AS pos FROM v)
    GROUP BY pos)
), c AS (
  SELECT list_transform(range(1, {dim + 1}), i -> e[i] - m[i]) AS c FROM v, mu
), v0 AS (
  SELECT list_concat([1.0], list_transform(range(1, {dim}), x -> 0.0)) AS vv
)"""
    ]
    prev = "v0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
w{t} AS (
  SELECT pos, round(sum(s * cv), {dp}) AS w FROM (
    SELECT list_dot_product(c, {prev}.vv) AS s,
           unnest(c) AS cv, (generate_subscripts(c, 1) - 1)::INT AS pos
    FROM c, {prev}) GROUP BY pos
), n{t} AS (
  SELECT round(sqrt(sum(w * w)), {dp}) AS n FROM w{t}
)"""
        )
        if t < iters:
            parts.append(
                f""",
v{t} AS (
  SELECT list(round(w / n, {dp}) ORDER BY pos) AS vv FROM w{t}, n{t}
)"""
            )
            prev = f"v{t}"
    parts.append(
        f"""
SELECT pos, round(w / n, {dp}) AS loading FROM w{iters}, n{iters}"""
    )
    return "".join(parts)


_TOP_COMPONENT_SQL = _power_iter_sql(dim=64, iters=3, dp=6)


def docs_pack_sequences(spark, sf_dir):
    """Offset-based sequence packing for pretraining batches: chunk the
    corpus (32-token windows, stride 24), shard by doc hash, and assign
    each chunk to the 512-token pack its running token offset lands in —
    the window-expressible packing variant (a pack may exceed the budget
    by at most one chunk; exact first-fit needs stateful iteration).
    One shuffle on the shard key; packs form within shards exactly as
    they would per-task at scale."""
    from pyspark.sql import Window

    from ..operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).withColumn(
        "shard", (F.col("doc_id") % 8).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = chunks.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens")) / F.lit(512)
        ).cast("long"),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


_PACK_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), nz AS (
  SELECT * FROM toks WHERE len(w) > 0
), starts AS (
  SELECT doc_id, w, unnest(range(0, greatest(len(w) - 1, 0) + 1, 24)) AS s FROM nz
), chunks AS (
  SELECT doc_id, (s // 24)::INT AS chunk_idx,
         len(w[s + 1 : s + 32])::BIGINT AS n,
         (doc_id % 8)::INT AS shard
  FROM starts
), packed AS (
  SELECT shard, doc_id, n,
         floor((sum(n) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
                             ROWS UNBOUNDED PRECEDING) - n) / 512)::BIGINT AS pack_id
  FROM chunks
)
SELECT shard, pack_id, count(*)::BIGINT AS n_chunks,
       sum(n)::BIGINT AS n_tokens, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM packed GROUP BY shard, pack_id
"""


def ann_negative_samples(spark, sf_dir):
    """Contrastive-training negative mining: for each query vector, K
    deterministic random negatives — corpus vectors hash-ranked by
    md5(query|candidate) — EXCLUDING the query's true top-20 cosine
    neighbors (so negatives are genuinely non-positive).  The exclusion
    set is small per query, so the anti-join broadcasts; the hash ranking
    is engine-reproducible, which is what makes sampled negatives
    regression-testable at all.

    The candidate cross join is queries × corpus — bounded by the query
    batch (10 here); at 100 TB corpora, pre-sample candidates with
    `hash_sample` before ranking instead of enumerating the corpus."""
    from pyspark.sql import Window

    from ..operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    positives = brute_force_topk(emb, queries, k=20).select(
        "query_id", "neighbor_id"
    )
    cand = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"))
    ).crossJoin(
        emb.select(F.col("vec_id").alias("cand_id"))
    ).filter(F.col("query_id") != F.col("cand_id"))
    cand = cand.join(
        positives,
        (cand.query_id == positives.query_id) & (cand.cand_id == positives.neighbor_id),
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy("__h", "cand_id")
    return (
        cand.withColumn(
            "__h",
            F.md5(
                F.concat_ws(
                    "|", F.col("query_id").cast("string"), F.col("cand_id").cast("string")
                )
            ),
        )
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select("query_id", F.col("cand_id").alias("negative_id"), "neg_rank")
    )


_NEG_SAMPLES_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS ne FROM embeddings),
s AS (
  SELECT qid, nid,
         round(list_dot_product(qe, ne) /
               (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 4) AS cosine
  FROM q, c WHERE qid <> nid
), pos AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
    FROM s) WHERE rn <= 20
), cand AS (
  SELECT q.qid, c.nid FROM q, c
  WHERE q.qid <> c.nid
    AND NOT EXISTS (SELECT 1 FROM pos WHERE pos.qid = q.qid AND pos.nid = c.nid)
)
SELECT qid AS query_id, nid AS negative_id, neg_rank
FROM (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY md5(qid::VARCHAR || '|' || nid::VARCHAR), nid)
           AS neg_rank
  FROM cand)
WHERE neg_rank <= 5
"""


_NEG_SCALED_RATE = 1.0 / 8.0


def ann_negative_samples_scaled(spark, sf_dir):
    """The 100-TB path for negative mining — the hash_sample
    pre-sampling swap that ``ann_negative_samples`` documents, AS CODE
    (its own contract + oracle, the ``*_scaled`` twin discipline).

    The candidate relation is still queries × corpus, but candidates
    are FILTERED map-side to md5(query|cand) < threshold(rate) — the
    very hash the ranking orders by, computed where the pair is born —
    so the per-query window sees ~rate·|corpus| rows instead of
    |corpus|.  The corpus side is never shuffled at pair grain: the
    10-row query batch broadcasts (BroadcastNestedLoopJoin), the hash
    filter runs in the same stage as the corpus scan, and only the
    sampled survivors reach the row_number exchange.  Ranking within
    the sample by the SAME hash keeps the contract deterministic and
    engine-reproducible; a query emits fewer than K negatives only if
    the sample underfills (rate is sized ~10× above K+top-k overlap).
    Exclusion of true top-20 cosine neighbors is unchanged and now
    anti-joins against the sampled set only."""
    from pyspark.sql import Window

    from ..operators.sampling import _hex_threshold
    from ..operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    positives = brute_force_topk(emb, queries, k=20).select(
        "query_id", "neighbor_id"
    )
    thr = _hex_threshold(_NEG_SCALED_RATE)
    cand = (
        F.broadcast(queries.select(F.col("vec_id").alias("query_id")))
        .crossJoin(emb.select(F.col("vec_id").alias("cand_id")))
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "__h",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("query_id").cast("string"),
                    F.col("cand_id").cast("string"),
                )
            ),
        )
        .filter(F.col("__h") < F.lit(thr))  # map-side, pre-shuffle
    )
    cand = cand.join(
        positives,
        (cand.query_id == positives.query_id)
        & (cand.cand_id == positives.neighbor_id),
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy("__h", "cand_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select("query_id", F.col("cand_id").alias("negative_id"), "neg_rank")
    )


from ..operators.sampling import _hex_threshold as _neg_hex_threshold

_hex_threshold_lit = _neg_hex_threshold(_NEG_SCALED_RATE)

_NEG_SAMPLES_SCALED_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS ne FROM embeddings),
s AS (
  SELECT qid, nid,
         round(list_dot_product(qe, ne) /
               (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 4) AS cosine
  FROM q, c WHERE qid <> nid
), pos AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
    FROM s) WHERE rn <= 20
), cand AS (
  SELECT q.qid, c.nid, md5(q.qid::VARCHAR || '|' || c.nid::VARCHAR) AS h
  FROM q, c
  WHERE q.qid <> c.nid
    AND md5(q.qid::VARCHAR || '|' || c.nid::VARCHAR) < '{_hex_threshold_lit}'
    AND NOT EXISTS (SELECT 1 FROM pos WHERE pos.qid = q.qid AND pos.nid = c.nid)
)
SELECT qid AS query_id, nid AS negative_id, neg_rank
FROM (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY h, nid) AS neg_rank
  FROM cand)
WHERE neg_rank <= 5
"""


def docs_ngram_novelty(spark, sf_dir):
    """Cross-corpus novelty score per document ([EXT]): the fraction of a
    doc's distinct word-5-gram shingles that appear in NO other document
    (corpus document-frequency 1) — high novelty separates original
    content from boilerplate/mirrored text, the complement of the
    within-doc ``docs_repetition`` signals.  Posting-list shape: one
    shuffle on shingle for the df counts, one join back, one doc-grain
    agg — no pairwise work, so a hot boilerplate shingle costs a count,
    not O(df²).  The ratio is a single IEEE division of two BIGINTs
    (identical bits on both engines), emitted UNROUNDED — no round()
    boundary traps.  Docs shorter than 5 words have no shingles and are
    absent, mirroring the jaccard family's convention."""
    from ..operators.dedup import shingles

    docs = _t(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", n=5)
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (F.col("n_unique") / F.col("n_shingles")).alias("novelty_ratio"),
        )
    )


_NGRAM_NOVELTY_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
  FROM words, UNNEST(range(1, len(w) - 3)) AS t(i)
  WHERE len(w) >= 5
), dfc AS (
  SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle
)
SELECT doc_id,
       count(*)::BIGINT                                      AS n_shingles,
       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT       AS n_unique,
       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         / count(*)::BIGINT                                  AS novelty_ratio
FROM sh JOIN dfc USING (shingle)
GROUP BY doc_id
"""


QUERIES = {
    "docs_ngram_novelty": (docs_ngram_novelty, _NGRAM_NOVELTY_SQL),
    "docs_repetition": (docs_repetition, _DOCS_REPETITION_SQL),
    "pii_scan": (pii_scan, _PII_SCAN_SQL),
    "docs_decontaminate": (docs_decontaminate, _DECONTAMINATE_SQL),
    "docs_unigram_logprob": (docs_unigram_logprob, _UNIGRAM_SQL),
    "embedding_top_component": (embedding_top_component, _TOP_COMPONENT_SQL),
    "docs_pack_sequences": (docs_pack_sequences, _PACK_SQL),
    "ann_negative_samples": (ann_negative_samples, _NEG_SAMPLES_SQL),
    "ann_negative_samples_scaled": (ann_negative_samples_scaled, _NEG_SAMPLES_SCALED_SQL),
    "dedup_clusters": (dedup_clusters, _DEDUP_CLUSTERS_SQL),
    "embedding_quantization": (embedding_quantization, _EMB_QUANT_SQL),
}
