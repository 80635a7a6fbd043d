"""[EXT] Byte-pair-encoding merge learning — the tokenizer-training half
of an LLM data pipeline (Sennrich et al. 2016: iteratively merge the most
frequent adjacent symbol pair over a frequency-weighted word vocabulary).

Scale shape (the part that matters at 100 TB of text):

1. ONE corpus scan builds the (word, freq) vocabulary — a map-side
   tokenize + one hash-agg shuffle with partial (map-side combine)
   aggregation.  Everything after runs on the VOCABULARY relation, which
   is corpus-size-independent (millions of rows for web text, not
   billions of tokens).
2. Each merge round is one pair-explode + one partial+final count agg on
   the vocab frame, then a single-row ``best pair`` driver scalar — the
   same documented bounded-collect class as the PageRank fixpoint check
   (operators/pagerank.py) and the KMeans centroids: the VALUE steers
   control flow (it becomes a literal in the next round's re-segment
   fold), so it must cross the driver; it is O(1) per round.
3. Re-segmentation is a JVM-side ``F.aggregate`` left fold per word —
   exact greedy left-to-right pair merging, no Python, no shuffle.
   Per-round ``cache.checkpoint`` bounds lineage and frees the previous
   round, exactly like the other iterative operators (components.py /
   pagerank.py).

The fold is string arithmetic (no floats), so the DuckDB oracle — the
same algorithm unrolled one CTE per round with ``list_reduce`` — is
hash-exact (plans/tokenizer.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import checkpoint, release
from .text import WORD_RE

END_MARK = "</w>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the lowercased ``WORD_RE`` token stream — the
    single corpus-wide scan of the BPE trainer."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def initial_segmentation(words: DataFrame) -> DataFrame:
    """Seed segmentation: one symbol per character plus a trailing
    ``</w>`` end-of-word marker (Sennrich-style, so merges cannot jump
    word boundaries and word-final units stay distinct)."""
    return words.withColumn(
        "seg", F.concat(F.split(F.col("word"), ""), F.array(F.lit(END_MARK)))
    )


def _adjacent_pair_counts(seg: DataFrame) -> DataFrame:
    """freq-weighted counts of all adjacent symbol pairs.  The pair array
    is derived from ``seg`` inline — it is vocab-grain and cheap, and the
    explode feeds straight into a partial+final count agg."""
    pairs = F.expr(
        "transform(sequence(0, size(seg) - 2), "
        "j -> struct(element_at(seg, j + 1) AS l, element_at(seg, j + 2) AS r))"
    )
    # fully-merged single-symbol words have no pairs — and must be filtered
    # BEFORE the transform: sequence(0, size-2) at size=1 is the DESCENDING
    # [0, -1], whose element_at(seg, 0) is an invalid-index error
    return (
        seg.filter(F.size("seg") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _merge_fold(left: str, right: str) -> Column:
    """Greedy left-to-right merge of the (left, right) symbol pair inside
    ``seg``: a left fold that replaces the accumulator's last element when
    it completes the pair — ``[a a a a]`` with pair (a, a) becomes
    ``[aa aa]``, matching reference BPE (non-overlapping, left-first)."""
    return F.aggregate(
        F.slice(F.col("seg"), 2, F.size("seg") - 1),
        F.slice(F.col("seg"), 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn_merges(
    docs: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from a document
    corpus.  Output: (merge_rank, left, right, pair_count) — the merge
    table a downstream tokenizer would apply.  Ties on count break
    lexicographically (left asc, right asc): deterministic across engines
    and runs, which is what makes the DuckDB twin hash-exact."""
    seg = checkpoint(initial_segmentation(word_frequencies(docs, text_col)))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            _adjacent_pair_counts(seg)
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:  # degenerate corpus: every word fully merged
            break
        left, right, cnt = best[0]["l"], best[0]["r"], best[0]["pair_count"]
        merges.append((rank, left, right, cnt))
        seg = checkpoint(
            seg.withColumn("seg", _merge_fold(left, right)), supersedes=seg
        )
    release(seg)
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count bigint"
    )


def apply_bpe_merges(seg_col: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply an ordered merge table to a symbol-array column — the
    ENCODE side of BPE, a pure map-side composition of the same fold
    (one nested ``aggregate`` per rule; rule tables are small constants,
    exactly how a production tokenizer ships)."""
    def one_rule(left: str, right: str):
        def fold(acc, x):
            return F.when(
                (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(left + right)),
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    out = seg_col
    for left, right in merges:
        tail = F.slice(out, 2, F.size(out) - 1)
        head = F.slice(out, 1, 1)
        out = F.when(F.size(out) < 2, out).otherwise(
            F.aggregate(tail, head, one_rule(left, right))
        )
    return out


def apply_bpe_merges_staged(df, seg_col: str, merges: list[tuple[str, str]]):
    """Rule-per-stage application of a merge table with materialization
    fences.  The pure-Column form above references the previous level's
    expression ~4× per rule (tail twice + head + the size guard), so k
    chained rules build a ~4^k expression tree — ~14 s of DRIVER-side
    analysis/interpreted eval for 6 rules at ANY data size, the same
    inlined-subtree disease PERF.md documents for the PQ norm fold.
    Staging one rule per ``localCheckpoint`` keeps every plan linear;
    the fenced frame is vocab-grain (distinct words), which is exactly
    the table a production tokenizer materializes anyway.  Each stage
    supersedes the previous one (``cache.checkpoint``)."""
    prev = None
    for left, right in merges:
        df = prev = checkpoint(
            df.withColumn(seg_col, apply_bpe_merges(F.col(seg_col), [(left, right)])),
            supersedes=prev,
        )
    return df
