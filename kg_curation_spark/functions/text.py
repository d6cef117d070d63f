"""Text / URI column functions.

Re-expresses the reference's string pipeline as JVM-side Column expressions:
  * URI -> local name         (Lib/util_kb.py:69-78 ``DBpedia_URI_Parse``)
  * camelCase split           (util_encode.py:26-30)
  * punctuation normalize     (util_encode.py:34-37, cache_word2vec.py:52-54)
  * tokenize                  (Lib/util_kb.py:21 gensim tokenize equivalent)
  * n-gram generation         (Lib/util_kb.py:22-35, Baselines/eswc16.py:57-70)
  * literal<->entity lexical match (evaluate.py:143-147)
  * fixed-length pad/truncate (util_encode.py:40-42)

Everything here stays inside WholeStageCodegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# URI handling


def uri_localname(col: Column | str) -> Column:
    """Last path segment of a URI (after final '/' or '#')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, r"[/#]"), -1)


def localname_to_text(col: Column | str) -> Column:
    """URI local name -> human text: '_'->' ', camelCase split, lowercase.

    Mirrors DBpedia_URI_Parse + camel split (util_kb.py:69-78,
    util_encode.py:26-30) as one codegen'd expression.
    """
    c = F.col(col) if isinstance(col, str) else col
    underscored = F.regexp_replace(c, "_", " ")
    camel = F.regexp_replace(underscored, r"(.)([A-Z][a-z]+)", r"$1 $2")
    camel = F.regexp_replace(camel, r"([a-z0-9])([A-Z])", r"$1 $2")
    return F.lower(F.trim(F.regexp_replace(camel, r"\s+", " ")))


# ---------------------------------------------------------------------------
# Normalization / tokenization


def normalize_text(col: Column | str) -> Column:
    """Lowercase, punctuation->space, collapse whitespace, trim.

    Parity target: util_encode.py:34-37 (punct-to-space + keep alpha-ish).
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def tokenize(col: Column | str) -> Column:
    """Word tokens of normalized text -> array<string> (drops empties)."""
    return F.filter(
        F.split(normalize_text(col), " "), lambda t: F.length(t) > 0
    )


def pad_tokens(tokens: Column, n: int, pad: str = "\x00") -> Column:
    """Zero-pad / truncate a token array to fixed length n
    (util_encode.py:40-42 semantics)."""
    return F.slice(F.concat(tokens, F.array_repeat(F.lit(pad), n)), 1, n)


# ---------------------------------------------------------------------------
# N-grams


def word_ngrams(tokens: Column, n: int, sep: str = " ") -> Column:
    """Contiguous word n-grams from a token array -> array<string>.

    Built with sequence+transform (JVM-side); empty array when fewer than n
    tokens. Reference: sub-phrase windows util_kb.py:22-35.
    """
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.array_join(F.slice(tokens, i, n), sep),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Matching / hashing


def lexical_match(literal: Column | str, entity_uri: Column | str) -> Column:
    """literal.lower() == localname(entity).replace('_',' ').lower()
    (evaluate.py:143-147)."""
    lit = F.col(literal) if isinstance(literal, str) else literal
    name = F.lower(F.regexp_replace(uri_localname(entity_uri), "_", " "))
    return F.lower(F.trim(lit)) == name


def stable_hash32(col: Column, seed: int = 0) -> Column:
    """Deterministic 32-bit-range hash as bigint, identical in DuckDB via
    ('0x'||substr(md5(seed||x),1,8))::ubigint — used by MinHash so the
    oracle SQL can reproduce signatures bit-for-bit."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed) + "|"), col)), 1, 8), 16, 10
    ).cast("bigint")
