"""Dedup family: exact, MinHash/LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pyspark.sql.functions as F

from kg_curation_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs_fused,
    minhash_signatures_fused,
    ngram_jaccard_pairs,
    shingle_pairs,
    simhash64,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup
    (4, "completely different content about spark shuffles and partitions"),
    (5, "another unrelated text mentioning catalyst optimizer and codegen"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup_groups_identical(spark):
    out = {r["keeper"]: r["n_dupes"] for r in
           exact_dedup(_docs(spark), "doc_id", "text").collect()}
    assert out[1] == 2      # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_minhash_identical_signatures(spark):
    sig = minhash_signatures_fused(_docs(spark), "doc_id", "text", k=3, n_hashes=8).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["id"], {})[r["seed"]] = r["minhash"]
    assert by_doc[1] == by_doc[2]          # identical docs -> identical sig
    shared = sum(1 for s in range(8) if by_doc[1][s] == by_doc[3][s])
    assert shared >= 4                     # near-dup shares most minhashes


def test_lsh_finds_near_dup_pair(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs_fused(
            _docs(spark), "doc_id", "text", k=3, n_hashes=8, bands=4
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs
    assert (4, 5) not in pairs


def test_ngram_jaccard_scores(spark):
    sh = shingle_pairs(_docs(spark), "doc_id", "text", k=3)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(sh, tau=0.2).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (4, 5) not in pairs


def test_simhash_hamming(spark):
    out = {r["id"]: r["simhash"] for r in
           simhash64(_docs(spark), "doc_id", "text", bits=32).collect()}
    assert out[1] == out[2]

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(out[1], out[3]) < ham(out[1], out[4])
    assert ham(out[1], out[3]) <= 8


def test_ngram_jaccard_shingle_df_cap_defuses_skew(spark):
    """A corpus-common shingle shared by every doc must not create a
    quadratic all-pairs join: with max_shingle_df it is dropped in-operator
    (stopword semantics), so only genuinely-similar docs pair up."""
    rows = [(i, f"common boiler plate unique{i} token{i} word{i} extra{i}")
            for i in range(200)]
    rows.append((900, "common boiler plate unique1 token1 word1 extra1"))  # near-dup of 1
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    sh = shingle_pairs(docs, "doc_id", "text", k=3)
    pairs = ngram_jaccard_pairs(sh, tau=0.3, max_shingle_df=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 900)}  # the 'common boiler plate' shingle paired nothing
    # uncapped on the same data would emit the full ~200^2/2 pair space
    uncapped = ngram_jaccard_pairs(sh, tau=0.01, max_shingle_df=None).count()
    capped = ngram_jaccard_pairs(sh, tau=0.01, max_shingle_df=50).count()
    assert capped < uncapped


def test_simhash_arrow_equals_explode_form(spark):
    """simhash64_arrow (the 100-TB mapInPandas path) must produce
    bit-identical signatures to the oracle-checked explode form, including
    dropping token-less docs (VERDICT r02 'What's wrong' #2)."""
    from kg_curation_spark.operators.dedup import simhash64_arrow

    docs = _docs(spark).union(
        spark.createDataFrame([(6, "!!! ...")], "doc_id int, text string")
    ).repartition(4)
    explode = {r["id"]: r["simhash"] for r in
               simhash64(docs, "doc_id", "text", bits=32).collect()}
    arrow = {r["id"]: r["simhash"] for r in
             simhash64_arrow(docs, "doc_id", "text", bits=32).collect()}
    assert arrow == explode
    assert 6 not in arrow  # token-less doc dropped in both forms
    plan = simhash64_arrow(docs, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_ngram_jaccard_string_ids_match_packed_path(spark):
    """The packed-pair-key fast path only engages for bounded integral
    ids; string ids must take the generic path and produce identical
    scores (same pairs, same jaccard)."""
    ints = _docs(spark)
    strs = ints.select(
        F.format_string("d%05d", "doc_id").alias("doc_id"), "text"
    )
    by_int = {
        (f"d{r['id_a']:05d}", f"d{r['id_b']:05d}"): r["jaccard"]
        for r in ngram_jaccard_pairs(
            shingle_pairs(ints, "doc_id", "text", k=3), tau=0.2
        ).collect()
    }
    by_str = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            shingle_pairs(strs, "doc_id", "text", k=3), tau=0.2
        ).collect()
    }
    assert by_int == by_str and by_int


def test_ngram_jaccard_broadcast_gates_fall_back_to_shuffle(spark):
    """Both broadcast gates of ngram_jaccard_pairs (the df>=2 vocabulary
    prune and the post-aggregate size probes) read the session's byte
    budget: at the default they broadcast, at -1 both take their shuffle
    fallbacks — with identical scores."""
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(12)) + " shared words here")
            for i in range(40)]
    rows += [(100 + i, rows[i][1] + " tail") for i in range(0, 40, 5)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    sh = shingle_pairs(docs, "doc_id", "text", k=3)

    def run():
        out = ngram_jaccard_pairs(sh, tau=0.2, max_shingle_df=None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}, plan

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        got, plan = run()
        spark.conf.set(key, "-1")
        fallback, fb_plan = run()
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastExchange" in plan
    assert "BroadcastExchange" not in fb_plan
    assert got == fallback
    assert {(i, 100 + i) for i in range(0, 40, 5)} <= set(got)
