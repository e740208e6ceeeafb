"""Text-analysis operators (training-pipeline additions).

All JVM-side (built-in functions over token arrays) — the hot path of a
100 TB text pipeline must not cross into Python per row.

- language_id       n-gram/stopword heuristic over a fixed profile set
- quality_score     length / punctuation / stopword / repetition ratios
- token_count       whitespace + BPE-ish regex token counts
- fingerprint       rolling content hash (shingle xxhash min-sketch)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens_col

# Tiny deterministic stopword profiles (top function words per language).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "ein",
           "nicht"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "que"),
    "es": ("el", "la", "de", "que", "y", "los", "un", "por", "con", "una"),
}


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Pick the language whose stopword profile hits most tokens.

    greatest(struct(score, lang)) keeps it one narrow projection; a
    score tie goes to the larger struct, i.e. the lexicographically
    larger language code (deterministic: fr beats de, en beats de).
    Docs with zero hits get lang = NULL.
    """
    # materialize the split once, then the winning struct once — the
    # inline form re-ran the split per language filter and the 4-way
    # greatest() once per output column (guide §1.2 per-task work)
    tdf = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    scored = [
        F.struct(
            F.size(
                F.filter(F.col("_toks"), lambda t: t.isin(*words))
            ).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_PROFILES.items(), reverse=True)
    ]
    bdf = tdf.select(F.col(id_col), F.greatest(*scored).alias("_best"))
    best = F.col("_best")
    return bdf.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).alias("lang"),
        best["score"].alias("lang_score"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,1]: penalize too-short docs,
    high punctuation density, low stopword ratio, heavy token repetition
    (the classic pre-training quality gates)."""
    tdf = df.select(
        F.col(id_col),
        F.trim(F.col(text_col)).alias("_text"),
        tokens_col(F.trim(F.col(text_col))).alias("_toks"),
    )
    text = F.col("_text")
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"])))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop / n_tok
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    score = (
        F.lit(0.25) * len_score
        + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * distinct_ratio
        + F.lit(0.25) * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return tdf.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(score, 4).alias("quality"),
    )


# BPE-ish pre-tokenizer: word pieces, numbers, punctuation runs — the
# GPT-2 pre-tokenize regex family, simplified to RE2-compatible form.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + chars per doc."""
    tdf = df.select(
        F.col(id_col), F.trim(F.col(text_col)).alias("_text")
    )
    text = F.col("_text")
    ws = F.size(tokens_col(text))
    bpe = F.size(
        F.filter(
            F.split(
                F.regexp_replace(text, f"({BPE_REGEX})", "$1\x1f"), "\x1f"
            ),
            lambda t: F.trim(t) != "",
        )
    )
    return tdf.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length(text).alias("chars"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str,
                shingle_k: int = 3, sketch: int = 4) -> DataFrame:
    """Content fingerprint: min-sketch of rolling shingle hashes —
    ``sketch`` smallest xxhash64 values over k-word shingles, combined
    into one 64-bit value (winnowing-style document signature)."""
    from .dedup import shingles_from_toks

    tdf = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    shdf = tdf.select(
        F.col(id_col), shingles_from_toks(k=shingle_k).alias("_sh")
    )
    hashes = F.array_sort(
        F.transform(F.col("_sh"), lambda s: F.xxhash64(s))
    )
    mins = F.slice(hashes, 1, sketch)
    combined = F.aggregate(
        mins, F.lit(0).cast("long"),
        lambda acc, x: F.xxhash64(acc.cast("string"), x.cast("string")),
    )
    return shdf.select(F.col(id_col), combined.alias("fingerprint"))
