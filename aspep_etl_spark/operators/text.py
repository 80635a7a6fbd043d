"""[EXT] Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §2.11; driver mandate).

Everything here is built from JVM-side ``pyspark.sql.functions`` — regexes,
array ops, hashes — so the hot path stays inside whole-stage codegen and
scales linearly with no Python boundary.  Each builder returns Column
expressions; the contract queries compose them over the ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A word: letters/digits run.  Kept deliberately RE2-compatible so DuckDB
# oracles can mirror it exactly.
WORD_RE = "[a-z0-9]+"

# Tiny function-word inventories for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def token_count(text: Column) -> Column:
    """Whitespace/alnum token count via one regex pass."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0))


def bpe_ish_piece_count(text: Column) -> Column:
    """BPE-ish sub-token proxy: alnum runs + standalone punctuation marks,
    the classic pre-tokenizer split.  A real BPE vocab lookup would be a
    pandas UDF; this regex pass is the JVM-side approximation."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+|[^a-z0-9\\s]"), 0)
    )


def stopword_count(text: Column, stopwords: list[str]) -> Column:
    pattern = "\\b(" + "|".join(stopwords) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), 0))


def quality_metrics(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals (all codegen)."""
    n_chars = F.length(text)
    toks = token_count(text)
    alnum_space = F.length(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", ""))
    stop = stopword_count(text, LANG_MARKERS["en"])
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": toks.cast("long"),
        "punct_ratio": F.round((n_chars - alnum_space) / n_chars, 4),
        "stopword_ratio": F.round(stop / F.greatest(toks, F.lit(1)), 4),
        "mean_token_len": F.round(
            F.length(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))
            / F.greatest(toks, F.lit(1)),
            4,
        ),
    }



def passes_quality(m: dict[str, Column]) -> Column:
    """The training-data quality gate over ``quality_metrics``' columns:
    enough tokens, not too many stopwords, a plausible mean token length.
    The one Spark-side copy of the thresholds (the oracles keep their own)."""
    return (
        (m["n_tokens"] >= 20)
        & (m["stopword_ratio"] <= 0.35)
        & m["mean_token_len"].between(2.0, 12.0)
    )

# Tie-break priority for the language vote (first = wins ties).
LANG_PRIORITY = ("en", "es", "de", "fr")


def langid_scores(text: Column) -> Column:
    """Deterministic marker-word language vote: the language whose function
    words appear most often wins; `und` when nothing matches.  Ties break by
    LANG_PRIORITY order — processing in priority order with a strict `>`
    means later (lower-priority) languages only displace a strictly higher
    score."""
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_PRIORITY:
        score = stopword_count(text, LANG_MARKERS[lang])
        take = score > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, score).otherwise(best_score)
    return best


def repetition_metrics(text: Column) -> dict[str, Column]:
    """Within-document repetition signals (Gopher / RefinedWeb-style
    repetitious-text filters, word-level since the corpus has no line
    structure):

    - ``distinct_token_ratio``: |distinct tokens| / |tokens|;
    - ``top_bigram_fraction``: occurrences of the most frequent word
      bigram / total bigrams (the mode count is an O(d·n) per-doc array
      scan — bounded by doc length, no shuffle);
    - ``max_token_run``: longest run of consecutive identical tokens
      (single left-fold with (current, best) struct state).

    All codegen'd array expressions; assumes ≥2 tokens (callers filter).
    """
    toks = F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0)
    bi = F.expr(
        "transform(sequence(1, size(__toks) - 1), "
        "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"
    )
    top_bi = F.expr(
        "array_max(transform(array_distinct(__bi), "
        "x -> size(filter(__bi, y -> y = x))))"
    )
    max_run = F.expr(
        "aggregate(sequence(2, size(__toks)), named_struct('cur', 1, 'best', 1), "
        "(acc, i) -> named_struct("
        "'cur', CASE WHEN element_at(__toks, i) = element_at(__toks, i - 1) "
        "            THEN acc.cur + 1 ELSE 1 END, "
        "'best', greatest(acc.best, CASE WHEN element_at(__toks, i) = element_at(__toks, i - 1) "
        "                               THEN acc.cur + 1 ELSE 1 END)), "
        "acc -> acc.best)"
    )
    return {
        "__toks": toks,
        "__bi": bi,
        "distinct_token_ratio": F.round(
            F.size(F.array_distinct(F.col("__toks"))) / F.size(F.col("__toks")), 4
        ),
        "top_bigram_fraction": F.round(top_bi / F.size(F.col("__bi")), 4),
        "max_token_run": max_run.cast("long"),
    }


# PII-ish surface patterns — RE2 ∩ Java compatible (no backrefs, no
# lookaround) so DuckDB oracles and Spark agree byte-for-byte.
PII_PATTERNS: dict[str, str] = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "url": "https?://[^\\s]+",
    "phone": "\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b",
    "ipv4": "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
}


def pii_pattern_counts(text: Column) -> dict[str, Column]:
    """Per-document PII-pattern hit counts (training-data scrubbing
    audit).  One regex pass per pattern, all codegen."""
    low = F.lower(text)
    return {
        f"n_{name}": F.size(F.regexp_extract_all(low, F.lit(pat), 0)).cast("long")
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII-pattern hit with a typed placeholder (``[EMAIL]``
    etc.) — the scrub transform paired with ``pii_pattern_counts``.  URL
    runs first so an address inside a URL redacts as one URL."""
    out = text
    for name in ("url", "email", "phone", "ipv4"):  # order matters: url first
        # (?i): counts lowercase their input; the redactor must hit the
        # same spans on the original casing
        out = F.regexp_replace(out, "(?i)" + PII_PATTERNS[name], f"[{name.upper()}]")
    return out


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 over the lowercased text with
    everything but alnum removed — whitespace/punct-insensitive identity."""
    return F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Fixed-size token-window chunking with overlap ([EXT]) — the standard
    pre-training segmentation.  Output: (id, chunk_idx, chunk_text,
    n_chunk_tokens).  Map-only: tokenize → stride starts → slice → explode;
    no shuffle, no Python.

    Stride = chunk_tokens - overlap; the final partial chunk is kept (so
    every token lands in ≥1 chunk); empty docs yield no chunks.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    starts = F.expr(f"sequence(0, greatest(size(__toks) - 1, 0), {stride})")
    chunks = F.expr(
        f"transform(__starts, s -> struct("
        f"CAST(s DIV {stride} AS INT) AS chunk_idx, "
        f"array_join(slice(__toks, s + 1, {chunk_tokens}), ' ') AS chunk_text, "
        f"size(slice(__toks, s + 1, {chunk_tokens})) AS n_chunk_tokens))"
    )
    return (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .withColumn("__starts", starts)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        )
    )


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Full text-analysis projection over a documents table — single
    map-only stage, no shuffle."""
    t = F.col(text_col)
    cols = quality_metrics(t)
    cols["pred_lang"] = langid_scores(t)
    cols["fingerprint"] = fingerprint(t)
    cols["n_pieces"] = bpe_ish_piece_count(t).cast("long")
    return docs.withColumns(cols)
