"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All pure Column expressions (JVM-side, oracle-checkable); the language
profiles are deterministic marker-word lists — a stand-in with the same
dataflow shape as a real n-gram langid model (per-language score -> argmax
with margin -> 'und' fallback).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.text import normalize_text, stable_hash32, tokenize

LANG_MARKERS = {
    "en": ["the", "and", "of", "a", "is"],
    "de": ["der", "und", "die", "ist", "das"],
    "fr": ["le", "et", "la", "est", "les"],
    "es": ["el", "de", "la", "es", "los"],
}


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (id, n_chars, n_tokens, punct_ratio, upper_ratio, mean_token_len,
    quality): simple length/punctuation heuristics (the classic pre-filter
    features of web-scale corpus cleaning)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokenize(text_col)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]{}]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    mean_len = F.when(
        n_tokens > 0,
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / n_tokens,
    ).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    upper_ratio = F.when(n_chars > 0, upper / n_chars).otherwise(0.0)
    quality = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), 0.4).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.3).otherwise(0.0)
        + F.when((mean_len >= 2.0) & (mean_len <= 12.0), 0.3).otherwise(0.0)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(quality, 2).alias("quality"),
    )


def langid(df: DataFrame, id_col: str, text_col: str, min_hits: int = 1) -> DataFrame:
    """-> (id, lang_pred): marker-word argmax, ties/no-hits -> 'und'.

    Deterministic tie-break: higher score wins, then language code asc.
    """
    toks = F.array_distinct(tokenize(text_col))
    scores = [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        ).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = df.select(F.col(id_col).alias("id"), *scores)
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"), F.lit(lang).alias("lang")
            )
            for lang in LANG_MARKERS
        ]
    )
    best = F.array_sort(pairs)[len(LANG_MARKERS) - 1]
    second = F.array_sort(pairs)[len(LANG_MARKERS) - 2]
    return scored.select(
        "id",
        F.when(
            (best["s"] >= min_hits) & (best["s"] > second["s"]), best["lang"]
        )
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """-> (id, fingerprint): min char-k-gram hash over normalized text —
    a 1-hash MinHash, the winnowing-style content fingerprint. Empty or
    too-short text -> hash of the normalized text itself."""
    # normalized text materialized first (no CSE inside HOF lambdas)
    base = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("__nt")
    )
    sh = F.when(
        F.length("__nt") >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("__nt") - (k - 1)),
                lambda i: F.col("__nt").substr(i, F.lit(k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = base.withColumn("__sh", sh)
    min_hash = F.array_min(F.transform("__sh", lambda s: stable_hash32(s)))
    fp = F.when(F.size("__sh") > 0, min_hash).otherwise(stable_hash32(F.col("__nt")))
    return base.select("id", fp.alias("fingerprint"))
