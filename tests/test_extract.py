"""Extract stage: planted-quad recovery, content-sha invariant, and the JVM
regex's agreement with the Python ``re`` definition of an assertion line."""

from __future__ import annotations

import contextlib
import io
import re

import pyspark.sql.functions as F

from kg_curation_spark import synth
from kg_curation_spark.stages.extract import extract_triples, extract_triples_raw

# The assertion-line contract (FIXTURES.md §2), in Python's re dialect.
ASSERT_RE = re.compile(r'^KG:\s*<([^>\s]+)>\s*<([^>\s]+)>\s*"([^"\n]*)"\s*\.\s*$', re.M)


def test_planted_quads_recovered_exactly(spark):
    quads = synth.load_reference_quads(spark)
    corpus = synth.render_corpus(quads).cache()
    got = extract_triples(corpus).cache()

    planted = quads.select("subject", "predicate", "literal").distinct()
    assert planted.exceptAll(got.select("subject", "predicate", "literal")).count() == 0
    assert got.select("subject", "predicate", "literal").exceptAll(planted).count() == 0


def test_content_sha_invariant(spark):
    """Every emitted triple's content_sha equals sha256 of its source file's
    content (the input_hint per-row invariant, carried end-to-end)."""
    quads = synth.synthetic_quads(spark, 200)
    corpus = synth.render_corpus(quads).cache()
    got = extract_triples(corpus)

    src = corpus.select(
        "repo", "path", "commit", F.sha2("content", 256).alias("expect_sha")
    )
    joined = got.join(src, ["repo", "path", "commit"], "left")
    assert joined.filter(F.col("expect_sha").isNull()).count() == 0
    assert joined.filter(F.col("content_sha") != F.col("expect_sha")).count() == 0


def test_synthetic_quads_deterministic(spark):
    a = synth.synthetic_quads(spark, 100).collect()
    b = synth.synthetic_quads(spark, 100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


ADVERSARIAL = [
    'KG: <s1> <p1> "crlf" .\r\nKG: <s2> <p2> "b" .\r\n',
    'KG:\u00a0<s1> <p1> "nbsp" .\n',
    'KG: <s\u2003x> <p1> "em space in uri" .\n',
    'KG: <s1> <p1> "a" .\u2028KG: <s2> <p2> "b" .\n',
    "".join(f'KG:{c}<s{i}>{c}<p{i}>{c}"ws"{c}.{c}\n' for i, c in enumerate("\x1c\x1d\x1e\x1f\x85")),
    'KG:\n  <s1>\n<p1> "newline in ws" .\n',
    'KG: <s1> <p1> "" .\n',
    'KG: <s1> <p1> "say "hi"" .\nKG: <s2> <p2> "it\'s" .\nKG: <s3> <p3> "a"b" .\n',
    "\n".join(f'KG: <s{i}> <p{i % 3}> "lit {i}" .' for i in range(40)) + "\n\nx\n",
    'text\nKG: <s1> <p1> "no trailing newline" .',
    '  KG: <s1> <p1> "indented" .\nKG: <s 1> <p1> "space in uri" .\n',
    None,
]


def test_jvm_regex_matches_python_re(spark):
    """extract_triples_raw (a JVM regex) finds exactly the triples, in file
    order, that Python's re finds on content built to split the two
    dialects: line terminators, Unicode and control-code whitespace,
    quotes, empty literals, many matches per file, a missing final
    newline and null content. The plan holds no Python node."""
    rows = [(f"r{i}", "f.py", "c0", "py", c) for i, c in enumerate(ADVERSARIAL)]
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    raw = extract_triples_raw(repos)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        raw.explain()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in buf.getvalue()

    got: dict[str, list] = {}
    for r in raw.collect():
        got.setdefault(r["repo"], []).append((r["subject"], r["predicate"], r["literal"]))
    for repo, _, _, _, content in rows:
        want = [m.groups() for m in ASSERT_RE.finditer(content or "")]
        assert got.get(repo, []) == want, (repo, content)
    assert sum(map(len, got.values())) > 50
