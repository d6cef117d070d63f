"""Stage 1 — triple extraction from source-file content.

repos(repo, path, commit, lang, content)
    -> triples(subject, predicate, literal, repo, path, commit, content_sha)

The extractor is a JVM regex over the whole ``content`` value:
``regexp_extract_all`` once per capture group, zipped and exploded — pure
Column expressions, so the stage runs with no Python worker and no Arrow
round-trip. Each emitted triple carries sha256(content) of its source row —
the end-to-end row invariant.

Reference semantics being re-expressed: the assertion quads the reference
reads from DBP-Lit.csv (cache.py:63) are here *recovered from text*, which
is the north star's stage (1): "extracts candidate (subj, pred, obj)
triples from file content, wrapping KG_Curation's lexical-matching and
assertion-extraction logic".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Matches the planted assertion line shape (FIXTURES.md §2):
#   KG: <subject-uri> <predicate-uri> "literal" .
# The contract is Python's
#   re.compile(r'^KG:\s*<([^>\s]+)>\s*<([^>\s]+)>\s*"([^"\n]*)"\s*\.\s*$', re.M)
# spelled for java.util.regex:
#   (?d)  only "\n" ends a line for ^ and $ (Python ignores "\r", U+2028, …);
#   (?U)  \s is Unicode White_Space, as Python's str \s;
#   \x{1c}-\x{1f}  Python's \s also matches these four separators, Java's
#                  White_Space does not — so each class lists them.
_WS = r"[\s\x{1c}-\x{1f}]"
_URI = r"<([^>\s\x{1c}-\x{1f}]+)>"
ASSERT_PATTERN = (
    rf'(?mdU)^KG:{_WS}*{_URI}{_WS}*{_URI}{_WS}*"([^"\n]*)"{_WS}*\.{_WS}*$'
)


def extract_triples_raw(repos: DataFrame) -> DataFrame:
    """Per-file extraction only (no dedup) — shared by the batch stage and
    the streaming path (append-mode streams cannot aggregate without a
    watermark, so dedup stays batch-side). The three group scans walk the
    same matches in the same order, so ``arrays_zip`` lines them up; a
    null ``content`` yields no rows."""
    groups = [
        F.regexp_extract_all("content", F.lit(ASSERT_PATTERN), i).alias(name)
        for i, name in enumerate(("subject", "predicate", "literal"), start=1)
    ]
    return repos.select(
        F.inline(F.arrays_zip(*groups)),
        "repo", "path", "commit",
        F.sha2("content", 256).alias("content_sha"),
    )


def extract_triples(repos: DataFrame) -> DataFrame:
    """Extract candidate (subject, predicate, literal) triples.

    The scan projects only the columns extraction needs (column pruning
    reaches the parquet reader); dedup happens on the triple key while the
    provenance columns keep one witness row (min-struct agg) — at 100 TB the
    shuffle key is the triple, not the row.
    """
    raw = extract_triples_raw(repos)
    # one witness per distinct (s,p,l): map-side combinable min-agg
    return raw.groupBy("subject", "predicate", "literal").agg(
        F.min(F.struct("repo", "path", "commit", "content_sha")).alias("w")
    ).select(
        "subject", "predicate", "literal",
        F.col("w.repo").alias("repo"), F.col("w.path").alias("path"),
        F.col("w.commit").alias("commit"), F.col("w.content_sha").alias("content_sha"),
    )
