"""run_pipeline when a stage raises: the exception propagates, the helper
pool's Spark jobs are cancelled through their job groups, and no pool
thread or Spark job outlives the call. Hermetic: synthetic inputs only."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark import SparkContext

from kg_curation_spark import synth
from kg_curation_spark.stages import pipeline


class ExtractFailed(RuntimeError):
    pass


def _pool_threads():
    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def test_raising_extract_cancels_helpers_and_leaks_nothing(spark, tmp_path, monkeypatch):
    quads = synth.synthetic_quads(spark, 400)
    repos = synth.render_corpus(quads)
    kb = synth.build_kb(spark, quads)
    kge = spark.createDataFrame(
        synth.build_kge(quads.toPandas()), "id string, kind string, vec array<float>"
    )
    tracker = spark.sparkContext.statusTracker()

    cancelled = []
    cancel = SparkContext.cancelJobGroup

    def spy_cancel(self, group):
        cancelled.append(group)
        return cancel(self, group)

    def extract_raises(repos):
        # fail while the helpers have Spark work in flight
        deadline = time.time() + 60
        while not tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        raise ExtractFailed("extract failed")

    monkeypatch.setattr(SparkContext, "cancelJobGroup", spy_cancel)
    monkeypatch.setattr(pipeline, "extract_triples", extract_raises)
    before = _pool_threads()
    with pytest.raises(ExtractFailed):
        pipeline.run_pipeline(spark, repos, kb, kge, str(tmp_path))

    assert not [t for t in _pool_threads() - before if t.is_alive()]
    assert {g.split(":", 1)[1] for g in cancelled} <= {
        "canonicalize", "mine_cardinality", "mine_range", "train_model"
    }
    assert cancelled
    # a cancelled job's end reaches the status store through the listener
    # bus, so give it a moment
    deadline = time.time() + 30
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.1)
    assert list(tracker.getActiveJobsIds()) == []
