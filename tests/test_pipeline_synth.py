"""End-to-end gate on synthetic quads: the tests/test_pipeline.py
assertions at the same thresholds (P/R >= 0.95, hits@k / MRR, recall@5,
content-sha survival, lineage rows, kill-and-resume) plus exact recovery
of the planted quads, on ``synth.synthetic_quads`` — no fixture file is
read, so the gate runs on any host."""

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

N_QUADS = 2000
# the stages after score; dropping their commit markers simulates a crash
CRASH_STAGES = ("constrain", "predict", "decide", "canonicalize", "materialize")


@pytest.fixture(scope="module")
def synth_world(spark, tmp_path_factory):
    quads = synth.synthetic_quads(spark, N_QUADS).cache()
    corpus = synth.render_corpus(quads).cache()
    kb = {k: v.cache() for k, v in synth.build_kb(spark, quads).items()}
    kge = spark.createDataFrame(
        synth.build_kge(quads.toPandas()), "id string, kind string, vec array<float>"
    ).cache()
    wd = str(tmp_path_factory.mktemp("kgpipe_synth"))
    ctx = run_pipeline(spark, corpus, kb, kge, wd)
    yield {"quads": quads, "corpus": corpus, "kb": kb, "kge": kge,
           "wd": wd, "ctx": ctx}
    shutil.rmtree(wd, ignore_errors=True)
    for df in (quads, corpus, kge, *kb.values()):
        df.unpersist()


def _stage(ctx, name):
    return next(r for r in ctx.ran if r.name == name)


def _spo(df):
    return sorted(map(tuple, df.select("subject", "predicate", "object").collect()))


def test_planted_quads_recovered_exactly(synth_world):
    w = synth_world
    got = _stage(w["ctx"], "extract").df.select("subject", "predicate", "literal")
    planted = w["quads"].select("subject", "predicate", "literal").distinct()
    assert planted.exceptAll(got).count() == 0
    assert got.exceptAll(planted).count() == 0


def test_triple_pr_gate(synth_world):
    w = synth_world
    pr = triple_set_pr(_stage(w["ctx"], "decide").df, w["quads"], w["kb"]["redirects"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_ranking_metrics(synth_world):
    w = synth_world
    m = ranking_metrics(
        _stage(w["ctx"], "predict").df, w["quads"], w["kb"]["redirects"]
    ).first()
    assert m["hits1"] >= 0.95 and m["hits5"] >= 0.95 and m["mrr"] >= 0.95, m


def test_candidate_recall(synth_world):
    w = synth_world
    preds = _stage(w["ctx"], "predict").df
    r = {row["k"]: row["recall"] for row in
         recall_at_k(preds, w["quads"], w["kb"]["redirects"], k_max=5).collect()}
    assert r[5] >= 0.95, r


def test_sha_invariant_survives_to_final_graph(synth_world):
    w = synth_world
    final = _stage(w["ctx"], "materialize").df
    assert final.count() > 0
    src = w["corpus"].select(F.sha2("content", 256).alias("content_sha")).distinct()
    assert final.join(src, "content_sha", "left_anti").count() == 0


def test_lineage_rows_written(synth_world):
    w = synth_world
    lin = w["ctx"].lineage()
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"extract", "candidates", "train_model", "score", "constrain",
            "predict", "decide", "canonicalize", "materialize"} <= stages
    total = (
        lin.filter(F.col("stage") == "extract")
        .agg(F.sum("rows_out").alias("n")).first()["n"]
    )
    assert total == _stage(w["ctx"], "extract").rows_out


def test_kill_and_resume(synth_world, spark):
    """Runs last: it rewrites the later stages' output in the shared
    workdir. Exactly the stages up to score resume, the rest recompute, and
    the materialized triple set is unchanged."""
    w = synth_world
    wd = w["wd"]
    before = _spo(_stage(w["ctx"], "materialize").df)
    for name in CRASH_STAGES:
        os.remove(os.path.join(wd, f"_{name}.COMMITTED"))

    ctx2 = run_pipeline(spark, w["corpus"], w["kb"], w["kge"], wd)
    resumed = {r.name for r in ctx2.ran if r.resumed}
    assert resumed == {"extract", "candidates", "train_model", "score"}
    assert _spo(_stage(ctx2, "materialize").df) == before
