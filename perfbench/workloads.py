"""The benchmark's workloads: seeded inputs, one timed operation, and the
check of that operation's output.

Every workload exposes ``build(spark, rt)`` (input set-up, repeated
``builds`` times per run), ``op(spark, rt, inputs)`` (the timed public call,
run to a committed result) and ``check(spark, rt, inputs, out)`` (the output
check, untimed). ``warm_up(spark, rt, inputs)`` runs once before the timed
ops and is part of set-up. ``rt`` is the
run context from child.py: seed, scratch directory and the tracer (or None).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# pipeline_fresh

PIPELINE_QUADS = 5000
FILES_PER_REPO = 200
CRASH_STAGES = ("constrain", "predict", "decide", "canonicalize", "materialize")


def _span(rt, layer: str, name: str):
    return rt.tracer.span(layer, name) if rt.tracer else nullcontext()


class PipelineFresh:
    name = "pipeline_fresh"
    input_rows = PIPELINE_QUADS
    builds = 1

    def build(self, spark, rt) -> dict:
        """Quads, the rendered corpus (written as parquet, as a repos table
        would be stored) and the KB/KGE tables, marked for caching. The
        caches fill during the warm-up op."""
        from kg_curation_spark import synth

        seed = rt.seed
        with _span(rt, "synth", "build"):
            quads = synth.synthetic_quads(spark, PIPELINE_QUADS, seed).cache()
            quads_pd = quads.toPandas()
            corpus_dir = rt.new_dir("corpus")
            synth.render_corpus(
                quads, files_per_repo=FILES_PER_REPO, seed=seed
            ).write.mode("overwrite").parquet(corpus_dir)
            repos = spark.read.parquet(corpus_dir)
            kb = {k: df.cache() for k, df in synth.build_kb(spark, quads, seed).items()}
            kge_pd = synth.build_kge(quads_pd, seed=seed)
            kge = spark.createDataFrame(
                kge_pd, "id string, kind string, vec array<float>"
            ).cache()
        gt = quads_pd[quads_pd.gt_entity != ""]
        return {
            "quads": quads,
            "repos": repos,
            "kb": kb,
            "kge": kge,
            # entity-vector row count as table metadata (bench.py does the same)
            "kge_entity_rows": int((kge_pd.kind == "e").sum()),
            # one row per rendered source file
            "files": repos.count(),
            "gt_triples": len(gt[["subject", "predicate", "gt_entity"]].drop_duplicates()),
        }

    def release(self, inputs: dict) -> None:
        for df in (inputs["quads"], inputs["kge"], *inputs["kb"].values()):
            df.unpersist()

    def warm_up(self, spark, rt, inputs) -> None:
        """One untimed fresh pipeline on the same inputs: fills the input
        caches, compiles the pipeline's code paths and starts the Python
        workers, so the timed op runs warm."""
        self.finish(self.op(spark, rt, inputs))

    def _run(self, spark, rt, inputs, workdir):
        from kg_curation_spark.stages.pipeline import run_pipeline

        return run_pipeline(
            spark, inputs["repos"], inputs["kb"], inputs["kge"], workdir,
            kge_entity_rows=inputs["kge_entity_rows"],
        )

    def op(self, spark, rt, inputs):
        workdir = rt.new_dir("wd")
        return {"ctx": self._run(spark, rt, inputs, workdir), "workdir": workdir}

    def check(self, spark, rt, inputs, out) -> tuple[bool, dict]:
        from kg_curation_spark.stages.evaluate import triple_set_pr

        ctx = out["ctx"]
        final = ctx.ran[-1]
        pr = triple_set_pr(final.df, inputs["quads"], inputs["kb"]["redirects"])
        info = {
            "triple_precision": pr["precision"],
            "triple_recall": pr["recall"],
            "materialized_rows": final.rows_out,
            "expected_rows": inputs["gt_triples"],
            "stage_wall_s": {r.name: round(r.wall_s, 2) for r in ctx.ran},
        }
        ok = (
            final.name == "materialize"
            and pr["precision"] >= 0.95
            and pr["recall"] >= 0.95
            and final.rows_out == inputs["gt_triples"]
        )
        return ok, info

    def finish(self, out) -> None:
        shutil.rmtree(out["workdir"], ignore_errors=True)

    def crash_resume(self, spark, rt, inputs, out) -> tuple[bool, dict]:
        """The kill-and-resume path: drop the commit markers of every stage
        after score, re-run on the same workdir, and require the same
        materialized triples. Only the traced run does this."""
        wd = out["workdir"]
        before = _spo(out["ctx"].ran[-1].df)
        for name in CRASH_STAGES:
            os.remove(os.path.join(wd, f"_{name}.COMMITTED"))
        t0 = time.perf_counter()
        ctx = self._run(spark, rt, inputs, wd)
        wall = time.perf_counter() - t0
        resumed = sorted(r.name for r in ctx.ran if r.resumed)
        same = _spo(ctx.ran[-1].df) == before
        info = {"resume_wall_s": wall, "resumed_stages": len(resumed)}
        return same and resumed == ["candidates", "extract", "score", "train_model"], info


def _spo(df) -> list[tuple]:
    return sorted(map(tuple, df.select("subject", "predicate", "object").collect()))


# ---------------------------------------------------------------------------
# similarity_docs

SIMILARITY_DOCS = 3000
# the warm-up op runs on the first WARMUP_DOCS documents: the operators'
# code paths are the same, and a cold op costs 12-18 s at any size, plus
# the size-dependent work
WARMUP_DOCS = 500
# the shape of tools/make_sf1x.documents
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
JACCARD_TAU = 0.2


def make_documents(n: int, seed: int) -> pd.DataFrame:
    """n documents of 10-100 words from a 30-word vocabulary; 5% are an
    earlier document plus " dup", so near-duplicate chains form."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _pairs(rows) -> list[tuple[int, int]]:
    return [(int(a), int(b)) for a, b in rows]


def _jaccard(rows) -> list[tuple[int, int, str]]:
    return [(int(a), int(b), f"{float(j):.6f}") for a, b, j in rows]


def _simhash(rows) -> list[tuple[int, int]]:
    return [(int(i), int(s)) for i, s in rows]


def union_find_labels(pairs) -> dict[int, int]:
    """node -> min node of its component, over the pair graph."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class SimilarityDocs:
    name = "similarity_docs"
    input_rows = SIMILARITY_DOCS
    builds = 3

    def __init__(self):
        self.expected: dict | None = None

    def build(self, spark, rt) -> dict:
        with _span(rt, "synth", "documents"):
            pdf = make_documents(SIMILARITY_DOCS, rt.seed)
            docs = spark.createDataFrame(pdf).cache()
            docs.count()
            warm_docs = spark.createDataFrame(pdf.head(WARMUP_DOCS)).cache()
            warm_docs.count()
        return {"pdf": pdf, "docs": docs, "warm_docs": warm_docs}

    def release(self, inputs: dict) -> None:
        inputs["docs"].unpersist()
        inputs["warm_docs"].unpersist()

    def oracle(self, inputs: dict) -> None:
        """Expected outputs from the repo's DuckDB oracle SQL, once per run."""
        import duckdb

        from kg_curation_spark.entry_queries import ORACLES

        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute("SET memory_limit = '1GB'")
        con.register("documents", inputs["pdf"])
        lsh = _pairs(con.sql(ORACLES["lsh_candidate_pairs"]).fetchall())
        jac = _jaccard(con.sql(ORACLES["ngram_jaccard_pairs"]).fetchall())
        sim = _simhash(con.sql(ORACLES["simhash"]).fetchall())
        con.close()
        labels = union_find_labels(lsh + [(a, b) for a, b, _ in jac])
        self.expected = {
            "lsh": _digest(lsh),
            "jaccard": _digest(jac),
            "simhash": _digest(sim),
            "components": _digest(labels.items()),
            "clusters": len(set(labels.values())),
        }

    def warm_up(self, spark, rt, inputs) -> None:
        """One untimed op on the warm-up documents: the first call of the
        operators in a process pays JIT compilation, code generation and
        Python worker start-up."""
        self._run(spark, rt, inputs["warm_docs"])

    def op(self, spark, rt, inputs) -> dict:
        return self._run(spark, rt, inputs["docs"])

    def _run(self, spark, rt, docs) -> dict:
        from pyspark.sql import functions as F

        from kg_curation_spark.operators.components import connected_components
        from kg_curation_spark.operators.dedup import (
            lsh_candidate_pairs_fused,
            ngram_jaccard_pairs,
            shingle_pairs,
            simhash64_arrow,
        )

        out: dict = {}
        with _span(rt, "operators.dedup.lsh", "lsh_candidate_pairs_fused") as sp:
            out["lsh"] = lsh_candidate_pairs_fused(
                docs, "doc_id", "text", k=3, n_hashes=8, bands=4
            ).collect()
            _rows(sp, out["lsh"])
        with _span(rt, "operators.dedup.simhash", "simhash64_arrow") as sp:
            out["simhash"] = simhash64_arrow(docs, "doc_id", "text", bits=32).collect()
            _rows(sp, out["simhash"])
        with _span(rt, "operators.dedup.ngram_jaccard", "ngram_jaccard_pairs") as sp:
            out["jaccard"] = ngram_jaccard_pairs(
                shingle_pairs(docs, "doc_id", "text", k=3), tau=JACCARD_TAU
            ).collect()
            _rows(sp, out["jaccard"])
        edges = pd.DataFrame(
            [(r[0], r[1]) for r in out["lsh"]] + [(r[0], r[1]) for r in out["jaccard"]],
            columns=["src", "dst"],
        ).astype("int64")
        with _span(rt, "operators.components", "connected_components") as sp:
            out["components"] = connected_components(
                spark.createDataFrame(edges)
            ).select(F.col("node"), F.col("component")).collect()
            _rows(sp, out["components"])
        return out

    def check(self, spark, rt, inputs, out) -> tuple[bool, dict]:
        exp = self.expected
        labels = [(int(n), int(c)) for n, c in out["components"]]
        got = {
            "lsh": _digest(_pairs(out["lsh"])),
            "jaccard": _digest(_jaccard(out["jaccard"])),
            "simhash": _digest(_simhash(out["simhash"])),
            "components": _digest(labels),
        }
        info = {
            "lsh_pairs": len(out["lsh"]),
            "jaccard_pairs": len(out["jaccard"]),
            "simhash_rows": len(out["simhash"]),
            "clusters": len({c for _, c in labels}),
        }
        bad = sorted(k for k in got if got[k] != exp[k])
        if bad:
            info["mismatch"] = bad
        return not bad and info["clusters"] == exp["clusters"], info

    def finish(self, out) -> None:
        pass


def _rows(sp, rows) -> None:
    if sp is not None:
        sp.rows = len(rows)


WORKLOADS = {w.name: w for w in (PipelineFresh, SimilarityDocs)}
