"""Benchmark: headline queries + the KG pipeline at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <sum of per-query min-of-N sec>, "unit": "sec",
   "queries": {name: min_sec, ...}, "spread": {name: max-min sec, ...},
   "repeats": N, "sf": 0.1, "kg_triples_per_sec": N}

Each query is timed KG_BENCH_REPEATS times (default 3) and the MIN is
reported — the sandbox's ±20% run-to-run drift otherwise reads as plan
regressions; the per-query spread records the variance band.

The kg_pipeline entry runs the full extract->link->constrain->decide chain
over a synthesized corpus of KG_QUADS assertions (deterministic, no
external data) and reports throughput in emitted triples/sec.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HEADLINE = [
    "extract_triples_docs",
    "topk_per_group",
    "cardinality_histogram",
    "range_histogram",
    "noisy_or",
    "score_merge",
    "hits_at_k_mrr",
    "threshold_sweep",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "ngram_jaccard_pairs",
    "quality_features",
    "cosine_topk",
    "lsh_cosine_topk",
    "connected_components_star",
    "salted_join_equivalence",
    "events_hourly_rollup",
    "hierarchical_typing_decision",
    "typing_iota_sweep",
    "linkfeat_vector",
    "linkfeat_sparse_indices",
    "particular_samples_alpha",
    "kge_pair_scores",
    "lookup_typing_score",
]

KG_QUADS = int(os.environ.get("KG_BENCH_QUADS", "20000"))
# min-of-N per query: the sandbox shows ±20% run-to-run drift on repeat
# identical runs (shared box; see BENCH/BASELINE.md), so a single sample
# cannot distinguish a plan regression from noise. The reported time is
# the min over KG_BENCH_REPEATS runs; the max-min spread is recorded per
# query so readers can see the variance band the min was drawn from.
REPEATS = int(os.environ.get("KG_BENCH_REPEATS", "3"))


def _linkfeat_inputs(spark, sf_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t = li.select(
        F.col("l_orderkey").cast("string").alias("s"),
        F.concat(F.lit("p"), (F.col("l_linenumber") % 3).cast("string")).alias("p"),
        F.col("l_suppkey").cast("string").alias("o"),
    ).distinct()
    tgt = t.filter((F.col("p") == "p0") & (F.col("s").cast("bigint") < 500))
    cand = tgt.select(
        F.col("s").alias("subject"), F.col("p").alias("predicate"),
        F.col("o").alias("entity"),
    )
    return t, cand


def _linkfeat_dense_only(spark, sf_dir):
    """Bench override: the registry's merged `linkfeat_vector` row runs
    BOTH the dense and sparse M2 forms and joins them (correctness
    harness). The bench keeps timing each form alone, as production
    would run it — same keys as the pre-merge rows."""
    from kg_curation_spark.stages.score import graph_feature_vectors

    t, cand = _linkfeat_inputs(spark, sf_dir)
    return graph_feature_vectors(cand, t, ["p0", "p1", "p2"])


def _linkfeat_sparse_only(spark, sf_dir):
    from kg_curation_spark.stages.sampling import dictionary_encode
    from kg_curation_spark.stages.score import graph_feature_vectors_sparse

    t, cand = _linkfeat_inputs(spark, sf_dir)
    pindex = dictionary_encode(t.select("p"), "p", "idx")
    return graph_feature_vectors_sparse(cand, t, pindex, n_properties=3)


def _cc_star_adaptive(spark, sf_dir):
    """Bench override: the components call canonicalize makes, under the
    session's broadcast budget (the graph finishes on the driver when its
    edges fit it, else runs the large-star/small-star loop)."""
    from pyspark.sql import functions as F

    from kg_curation_spark.operators.components import connected_components

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    edges = c.join(n, c.c_nationkey == n.n_nationkey).select(
        F.col("c_name").alias("src"), F.col("n_name").alias("dst")
    )
    return connected_components(edges)


def _simhash_arrow_only(spark, sf_dir):
    """Bench override: the registry's `simhash` row deliberately executes
    BOTH the explode-oracle form and the Arrow scale form and inner-joins
    them (one green driver row == oracle match AND cross-implementation
    equivalence). That is a correctness harness, not the scale path — the
    equivalence is also pinned in pytest
    (test_dedup.py::test_simhash_arrow_equals_explode_form), so the bench
    times what production runs: the Arrow form alone."""
    from pyspark.sql import functions as F

    from kg_curation_spark.operators.dedup import simhash64_arrow

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    return simhash64_arrow(docs, "doc_id", "text", bits=32)


BENCH_OVERRIDES = {
    "connected_components_star": _cc_star_adaptive,
    "simhash": _simhash_arrow_only,
    "linkfeat_vector": _linkfeat_dense_only,
    "linkfeat_sparse_indices": _linkfeat_sparse_only,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from kg_curation_spark.session import get_spark

    spark = get_spark(app_name="kgcs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    t_all = time.time()
    for name in HEADLINE:
        # .get(name, qs[name]) would evaluate qs[name] eagerly — overrides
        # may cover names that are no longer registry rows
        fn = BENCH_OVERRIDES[name] if name in BENCH_OVERRIDES else qs[name]
        samples = []
        for _ in range(REPEATS):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)
        spread[name] = round(max(samples) - min(samples), 3)
        print(
            f"# {name}: min {timings[name]}s spread {spread[name]}s ({n} rows)",
            file=sys.stderr,
        )

    # KG pipeline throughput on a synthesized corpus
    from kg_curation_spark import synth
    from kg_curation_spark.stages.pipeline import run_pipeline

    quads = synth.synthetic_quads(spark, KG_QUADS)
    corpus = synth.render_corpus(quads, files_per_repo=200)
    corpus_path = tempfile.mkdtemp(prefix="kgbench_corpus_")
    corpus.write.mode("overwrite").parquet(corpus_path)
    repos = spark.read.parquet(corpus_path)
    # KB + KGE built distributed (build_kge_spark — no driver collect) and
    # pinned in cache so the timed pipeline never replans them lazily and
    # the embedding-join broadcast decision is deterministic run to run.
    kb = {n: df.cache() for n, df in synth.build_kb(spark, quads).items()}
    kge = synth.build_kge_spark(quads).cache()
    for df in (*kb.values(), kge):
        df.count()
    # entity-vector row count is table metadata on a real deployment
    # (Iceberg manifest); threading it skips the broadcast-probe job
    n_evec = kge.where("kind = 'e'").count()
    kg_samples = []
    for _ in range(min(REPEATS, 2)):  # pipeline leg is the longest; 2 samples
        wd = tempfile.mkdtemp(prefix="kgbench_wd_")  # fresh: no stage resume
        t0 = time.time()
        ctx = run_pipeline(
            spark, repos, kb, kge, wd, num_partitions=64, kge_entity_rows=n_evec
        )
        kg_samples.append(time.time() - t0)
        triples = ctx.ran[-1].rows_out
        shutil.rmtree(wd, ignore_errors=True)
    kg_wall = min(kg_samples)
    timings["kg_pipeline"] = round(kg_wall, 3)
    spread["kg_pipeline"] = round(max(kg_samples) - min(kg_samples), 3)
    shutil.rmtree(corpus_path, ignore_errors=True)

    # headline value = sum of per-query minima — comparable round-over-round
    # regardless of the repeat count; the raw harness wall (incl. repeats)
    # is recorded separately
    total = round(sum(timings.values()), 3)
    harness_wall = round(time.time() - t_all, 3)
    print(
        json.dumps(
            {
                "metric": "bench_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "repeats": REPEATS,
                "harness_wall_s": harness_wall,
                "sf": sf,
                "kg_quads": KG_QUADS,
                "kg_emitted_triples": triples,
                "kg_triples_per_sec": round(triples / kg_wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
