"""[EXT] Tokenizer-training contract queries: BPE merge learning and
BPE encoding over the documents corpus (operators/bpe.py).

Both oracles replay the EXACT algorithm in DuckDB — the merge-learning
rounds are unrolled one CTE per round (the same pattern as the PageRank
and BFS oracles), with ``list_reduce`` re-implementing the greedy
left-to-right merge fold.  Everything is integer/string arithmetic, so
the twins are hash-exact, no float traps.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.bpe import (
    apply_bpe_merges_staged,
    bpe_learn_merges,
    initial_segmentation,
    word_frequencies,
)
from ..operators.text import WORD_RE
from ..sources.registry import load_table as _t

N_MERGES = 6


def docs_bpe_merges(spark, sf_dir):
    """First 6 BPE merge rules learned from the documents corpus —
    (merge_rank, left, right, pair_count).  One corpus scan builds the
    vocab; each round is a vocab-grain pair count plus a 1-row driver
    scalar; see operators/bpe.py for the 100 TB shape."""
    return bpe_learn_merges(_t(spark, sf_dir, "documents"), "text", N_MERGES)


def docs_bpe_subword_counts(spark, sf_dir):
    """Per-document subword token counts under the learned merge table —
    the ENCODE side of BPE.  Key identity that keeps this cheap: the
    encoding of a word after k merges IS the trainer's final
    segmentation of that word, so encoding = one broadcast join of the
    token stream against the re-segmented vocabulary (corpus scan + one
    hash agg; the vocab stays a broadcastable dim at web scale)."""
    docs = _t(spark, sf_dir, "documents")
    rules = [
        (m["left"], m["right"])
        for m in bpe_learn_merges(docs, "text", N_MERGES).collect()
    ]
    vocab = apply_bpe_merges_staged(
        initial_segmentation(word_frequencies(docs, "text")), "seg", rules
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    return (
        toks.join(F.broadcast(vocab.select("word", F.size("seg").alias("n_sub"))), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
        )
    )


_WORDS_CTE = f"""
words AS (
  SELECT w AS word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS w
        FROM documents)
  GROUP BY w
), seg0 AS (
  SELECT word, freq, list_append(string_split(word, ''), '</w>') AS seg
  FROM words
)"""

# one learning round: adjacent-pair counts → deterministic best pair →
# greedy left-to-right re-segmentation (list_reduce over singleton lists,
# accumulator = the re-segmented prefix)
_ROUND_CTE = """
p{i} AS (
  SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS pair_count
  FROM (SELECT freq,
               unnest([{{'l': seg[j], 'r': seg[j + 1]}} FOR j IN range(1, len(seg))]) AS p
        FROM seg{j})
  GROUP BY p.l, p.r
), b{i} AS (
  SELECT {i}::INTEGER AS merge_rank, l, r, pair_count
  FROM p{i} ORDER BY pair_count DESC, l, r LIMIT 1
), seg{i} AS (
  SELECT word, freq,
         list_reduce(
           list_prepend([seg[1]], [[x] FOR x IN seg[2:]]),
           (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
                            THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                             b.l || b.r)
                            ELSE list_concat(acc, x) END
         ) AS seg
  FROM seg{j} CROSS JOIN b{i} b
)"""


def _bpe_cte_chain(n: int) -> str:
    return "WITH " + _WORDS_CTE.strip() + "," + ",".join(
        _ROUND_CTE.format(i=i, j=i - 1) for i in range(1, n + 1)
    )


_BPE_MERGES_SQL = (
    _bpe_cte_chain(N_MERGES)
    + """
SELECT merge_rank, l AS "left", r AS "right", pair_count FROM (
"""
    + " UNION ALL ".join(f"SELECT * FROM b{i}" for i in range(1, N_MERGES + 1))
    + ")"
)

_BPE_SUBWORDS_SQL = (
    _bpe_cte_chain(N_MERGES)
    + f"""
, toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
  FROM documents
)
SELECT t.doc_id,
       count(*)::BIGINT AS n_words,
       sum(len(s.seg))::BIGINT AS n_subwords
FROM toks t JOIN seg{N_MERGES} s ON t.word = s.word
GROUP BY t.doc_id
"""
)

def docs_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility audit per language ([EXT]): subwords-per-word
    and chars-per-subword under the learned BPE merge table — the
    standard multilingual-tokenizer health metric (a lang whose
    fertility is far above the corpus mean is being over-segmented).
    Same broadcast-encode shape as ``docs_bpe_subword_counts`` (corpus
    scan + one hash agg on lang); every metric is ONE division of
    BIGINT sums, so the twin is hash-exact."""
    docs = _t(spark, sf_dir, "documents")
    rules = [
        (m["left"], m["right"])
        for m in bpe_learn_merges(docs, "text", N_MERGES).collect()
    ]
    vocab = apply_bpe_merges_staged(
        initial_segmentation(word_frequencies(docs, "text")), "seg", rules
    )
    toks = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    enc = toks.join(
        F.broadcast(
            vocab.select(
                "word",
                F.size("seg").alias("n_sub"),
                F.length("word").alias("n_chars"),
            )
        ),
        "word",
    )
    agg = enc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_words",
        "n_subwords",
        (
            F.col("n_subwords").cast("double") / F.col("n_words").cast("double")
        ).alias("fertility"),
        (
            F.col("n_chars").cast("double") / F.col("n_subwords").cast("double")
        ).alias("chars_per_subword"),
    )


_BPE_FERTILITY_SQL = (
    _bpe_cte_chain(N_MERGES)
    + f"""
, toks AS (
  SELECT lang,
         unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
  FROM documents
), agg AS (
  SELECT lang, count(*)::BIGINT AS n_words,
         sum(len(s.seg))::BIGINT AS n_subwords,
         sum(len(t.word))::BIGINT AS n_chars
  FROM toks t JOIN seg{N_MERGES} s ON t.word = s.word
  GROUP BY lang
)
SELECT lang, n_words, n_subwords,
       n_subwords::DOUBLE / n_words::DOUBLE AS fertility,
       n_chars::DOUBLE / n_subwords::DOUBLE AS chars_per_subword
FROM agg
"""
)


QUERIES = {
    "docs_bpe_merges": (docs_bpe_merges, _BPE_MERGES_SQL),
    "docs_bpe_subword_counts": (docs_bpe_subword_counts, _BPE_SUBWORDS_SQL),
    "docs_bpe_fertility": (docs_bpe_fertility, _BPE_FERTILITY_SQL),
}
