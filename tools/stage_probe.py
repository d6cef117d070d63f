"""Standalone per-stage scaling probe against the /dev/shm scale corpus.

The full ladder (tools/scaling_bench.py) measures the whole pipeline; when
one stage is the scaling bottleneck, iterating through 66-minute ladders is
too slow. This probe materializes the stage's INPUT once (--prep), then
times just that stage at a given executor shape, so a candidate plan change
gets a 2-vs-8-core ratio in minutes.

Shapes match the ladder exactly: multi-JVM executor mode
(SPARK_GRAFT_CLUSTER), tmpfs corpus + spark.local.dir, package via
pyFiles, fresh process per leg (run legs via separate invocations).

Usage:
    python tools/stage_probe.py --prep                # build scored input
    python tools/stage_probe.py --stage constrain --cores 2
    python tools/stage_probe.py --stage constrain --cores 8
    python tools/stage_probe.py --stage score --cores 8
Knobs: KG_SCALE_CORPUS (default /dev/shm/kg_scale_corpus), KG_PROBE_DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = os.environ.get("KG_SCALE_CORPUS", "/dev/shm/kg_scale_corpus")
PROBE = os.environ.get("KG_PROBE_DIR", "/dev/shm/kg_stage_probe")


def _spark(cores: int, name: str):
    from kg_curation_spark.session import get_spark

    exec_cores = int(os.environ.get("KG_SCALE_EXEC_CORES", "2"))
    mem = int(os.environ.get("KG_SCALE_EXEC_MEM", "12288"))
    os.environ["SPARK_GRAFT_CLUSTER"] = f"{cores // exec_cores},{exec_cores},{mem}"
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-tmp")
    spark = get_spark(
        app_name=name, parallelism=cores, shuffle_partitions=max(cores * 2, 32)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _kb(spark):
    return {
        n: spark.read.parquet(f"{CORPUS}/{n}")
        for n in (
            "entity_label", "kb_triples", "entity_class",
            "class_ancestor", "redirects",
        )
    }


def prep() -> None:
    """extract -> candidates -> score at full parallelism; write the scored
    checkpoint the constrain stage consumes (mirrors the ladder's stage
    boundary parquet)."""
    from kg_curation_spark.session import get_spark
    from kg_curation_spark.stages.candidates import generate_candidates
    from kg_curation_spark.stages.extract import extract_triples
    from kg_curation_spark.stages.score import score_candidates

    # prep is not a measured leg: plain in-process local mode at high
    # parallelism (8 executor JVMs x 12g would oversubscribe the box)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-tmp")
    spark = get_spark(
        app_name="kgcs-probe-prep",
        parallelism=int(os.environ.get("KG_PREP_CORES", "16")),
        shuffle_partitions=64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    kb = _kb(spark)
    repos = spark.read.parquet(f"{CORPUS}/repos")
    kge = spark.read.parquet(f"{CORPUS}/kge")
    n_evec = kge.where("kind = 'e'").count()
    assertions = extract_triples(repos).repartition(32, "literal")
    assertions.write.mode("overwrite").parquet(f"{PROBE}/assertions")
    assertions = spark.read.parquet(f"{PROBE}/assertions")
    cand = generate_candidates(assertions, kb["entity_label"])
    cand.write.mode("overwrite").parquet(f"{PROBE}/candidates")
    cand = spark.read.parquet(f"{PROBE}/candidates")
    scored = score_candidates(
        assertions, cand, kb["kb_triples"], kge, kge_entity_rows=n_evec
    )
    scored.write.mode("overwrite").parquet(f"{PROBE}/scored")
    print(json.dumps({"prep": "ok"}))
    spark.stop()


def run_constrain(spark, kb):
    from kg_curation_spark.stages.constraints import (
        cardinality_score, merge_scores, mine_cardinality, mine_range,
        per_subject_counts, range_score,
    )

    scored = spark.read.parquet(f"{PROBE}/scored")
    per_subj = per_subject_counts(kb["kb_triples"])
    card = mine_cardinality(kb["kb_triples"], per_subj=per_subj)
    rng = mine_range(kb["kb_triples"], kb["entity_class"], kb["class_ancestor"])
    out = cardinality_score(scored, card, kb["kb_triples"], per_subj=per_subj)
    out = range_score(out, rng, kb["entity_class"])
    return merge_scores(out)


def run_score(spark, kb):
    from kg_curation_spark.stages.score import score_candidates

    assertions = spark.read.parquet(f"{PROBE}/assertions")
    cand = spark.read.parquet(f"{PROBE}/candidates")
    kge = spark.read.parquet(f"{CORPUS}/kge")
    n_evec = kge.where("kind = 'e'").count()
    return score_candidates(
        assertions, cand, kb["kb_triples"], kge, kge_entity_rows=n_evec
    )


def run_canonicalize(spark, kb):
    from kg_curation_spark.stages.canonicalize import canonicalize

    return canonicalize(kb["entity_label"], kb["redirects"])


STAGES = {
    "constrain": run_constrain,
    "score": run_score,
    "canonicalize": run_canonicalize,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prep", action="store_true")
    ap.add_argument("--stage", choices=sorted(STAGES))
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()
    if args.prep:
        prep()
        return
    spark = _spark(args.cores, f"kgcs-probe-{args.stage}-{args.cores}")
    kb = _kb(spark)
    df = STAGES[args.stage](spark, kb)
    out = tempfile.mkdtemp(prefix=f"probe_{args.stage}_", dir="/dev/shm")
    t0 = time.time()
    df.write.mode("overwrite").parquet(out)  # stage-boundary materialization
    wall = time.time() - t0
    import pyarrow.parquet as pq

    rows = sum(
        pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
        for r, _d, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    )
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({
        "stage": args.stage, "cores": args.cores,
        "wall_s": round(wall, 1), "rows": rows,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
