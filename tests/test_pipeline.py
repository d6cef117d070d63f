"""End-to-end gate: P/R >= 0.95 vs the reference fixture, sha invariant,
checkpoint-resume (BASELINE.md rebuild targets)."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from kg_curation_spark import synth
from kg_curation_spark.stages.evaluate import (
    ranking_metrics,
    recall_at_k,
    triple_set_pr,
)
from kg_curation_spark.stages.pipeline import run_pipeline


@pytest.fixture(scope="module")
def fixture_world(spark, tmp_path_factory):
    quads = synth.load_reference_quads(spark).cache()
    corpus = synth.render_corpus(quads).cache()
    kb = {k: v.cache() for k, v in synth.build_kb(spark, quads).items()}
    kge = spark.createDataFrame(
        synth.build_kge(quads.toPandas()), "id string, kind string, vec array<float>"
    ).cache()
    wd = str(tmp_path_factory.mktemp("kgpipe"))
    # every gate below (P/R, hits@k, MRR, recall@k, sha survival) holds
    # with LEARNED plausibility weights (the train_model stage)
    ctx = run_pipeline(spark, corpus, kb, kge, wd)
    yield {"quads": quads, "corpus": corpus, "kb": kb, "kge": kge,
           "wd": wd, "ctx": ctx}
    shutil.rmtree(wd, ignore_errors=True)


def _stage(ctx, name):
    return next(r for r in ctx.ran if r.name == name)


def test_triple_pr_gate(fixture_world):
    """BASELINE.json: emitted (s,p,o) P/R >= 0.95 vs reference fixture."""
    w = fixture_world
    pr = triple_set_pr(_stage(w["ctx"], "decide").df, w["quads"], w["kb"]["redirects"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_ranking_metrics(fixture_world):
    w = fixture_world
    m = ranking_metrics(
        _stage(w["ctx"], "predict").df, w["quads"], w["kb"]["redirects"]
    ).first()
    assert m["hits1"] >= 0.95 and m["hits5"] >= 0.95 and m["mrr"] >= 0.95


def test_candidate_recall(fixture_world):
    w = fixture_world
    preds = _stage(w["ctx"], "predict").df
    r = {row["k"]: row["recall"] for row in
         recall_at_k(preds, w["quads"], w["kb"]["redirects"], k_max=5).collect()}
    assert r[5] >= 0.95


def test_sha_invariant_survives_to_final_graph(fixture_world):
    w = fixture_world
    final = _stage(w["ctx"], "materialize").df
    src = w["corpus"].select(
        F.sha2("content", 256).alias("content_sha")
    ).distinct()
    # every final triple's sha must be the sha of some source file
    orphans = final.join(src, "content_sha", "left_anti").count()
    assert orphans == 0


def test_lineage_rows_written(fixture_world):
    w = fixture_world
    lin = w["ctx"].lineage()
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"extract", "candidates", "score", "constrain", "predict",
            "decide", "canonicalize", "materialize"} <= stages
    # per-partition rows sum to the stage totals
    total = (
        lin.filter(F.col("stage") == "extract")
        .agg(F.sum("rows_out").alias("n")).first()["n"]
    )
    assert total == _stage(w["ctx"], "extract").rows_out


def test_kill_and_resume(fixture_world, spark):
    """Simulated crash: later-stage markers removed -> rerun recomputes only
    those stages, early stages resume from checkpoint, output identical."""
    w = fixture_world
    wd = w["wd"]
    before = sorted(
        map(tuple, _stage(w["ctx"], "materialize").df
            .select("subject", "predicate", "object").collect())
    )
    # crash after 'score': drop commit markers of every later stage
    for name in ("constrain", "predict", "decide", "canonicalize", "materialize"):
        os.remove(os.path.join(wd, f"_{name}.COMMITTED"))

    ctx2 = run_pipeline(spark, w["corpus"], w["kb"], w["kge"], wd)
    assert _stage(ctx2, "extract").resumed
    assert _stage(ctx2, "candidates").resumed
    assert _stage(ctx2, "score").resumed
    assert not _stage(ctx2, "constrain").resumed
    after = sorted(
        map(tuple, _stage(ctx2, "materialize").df
            .select("subject", "predicate", "object").collect())
    )
    assert before == after
