"""End-to-end pipeline: extract -> candidates -> (train_model) -> score ->
constrain -> predict -> decide -> canonicalize -> materialize, with
checkpoint-resume at every stage boundary (stages/base.py) and
per-partition lineage.

Two gates run the whole chain on a corpus with quads planted into file
content and assert P/R >= 0.95 of the emitted triple set, hits@k / MRR,
recall@5, per-row content-sha256 survival, lineage rows and
kill-and-resume: tests/test_pipeline_synth.py on ``synth.synthetic_quads``
(needs no fixture) and tests/test_pipeline.py on the reference's DBP-Lit
quads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import ml
from .base import PipelineContext
from .candidates import generate_candidates
from .canonicalize import apply_canonical, canonicalize
from .constraints import (
    cardinality_score,
    merge_scores,
    mine_cardinality,
    mine_range,
    per_subject_counts,
    range_score,
)
from .decide import decide, rank_predictions
from .extract import extract_triples
from .score import score_candidates


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    kb: dict[str, DataFrame],
    kge: DataFrame,
    workdir: str,
    threshold: float = 0.9,
    num_partitions: int = 32,
    kge_entity_rows: int | None = None,
) -> PipelineContext:
    """Returns the context; final graph at ctx.ran[-1].df.

    The train_model stage fits the M8 plausibility logistic on
    self-supervised KB pos/neg pairs (ml.train_plausibility_weights — the
    reference's shape, util_nn.py:11-108) and the score stage uses those
    weights. Training reads only the KB + KGE, so it runs on the helper
    pool and overlaps the extract -> candidates leg (guide §2.6); the score
    stage blocks on the trained weights only when it actually starts.

    The helper pool's Spark jobs run in one job group per helper. If any
    stage raises, queued helpers never start, the running ones' job groups
    are cancelled, the pool is shut down and the exception propagates.
    """
    from concurrent.futures import ThreadPoolExecutor, wait

    ctx = PipelineContext(spark=spark, workdir=workdir)
    sc = spark.sparkContext
    canon_pool = ThreadPoolExecutor(max_workers=4)
    helpers = {}

    def helper(name: str, fn):
        """Submit fn to the helper pool with its Spark jobs in the job group
        ``<run_id>:<name>``, so a failure elsewhere can cancel them."""
        group = f"{ctx.run_id}:{name}"

        def run():
            sc.setJobGroup(group, f"run_pipeline helper {name}")
            return fn()

        helpers[group] = canon_pool.submit(run)
        return helpers[group]

    try:
        # canonicalize reads ONLY the KB (entity_label, redirects) — no edge to
        # the extract -> decide chain — so its stage runs on a helper thread
        # and overlaps the whole chain (guide §2.6: overlap independent jobs;
        # Spark schedules both jobs' tasks FIFO, the canonicalize CC rounds
        # back-fill executor slots the chain's small stages leave idle).
        # StageResult append order may interleave, but ctx.ran[-1] is still
        # materialize, which joins on the result below before running.
        f_canon = helper(
            "canonicalize",
            lambda: ctx.stage(
                "canonicalize",
                lambda: canonicalize(kb["entity_label"], kb["redirects"]),
            ),
        )
        # constraint mining likewise reads only the KB; its two dimension-table
        # checkpoints (see _constrain below) start now and are usually done by
        # the time the constrain stage needs them.
        f_card = helper(
            "mine_cardinality",
            lambda: mine_cardinality(
                kb["kb_triples"], per_subj=per_subject_counts(kb["kb_triples"])
            ).localCheckpoint()
        )
        f_rng = helper(
            "mine_range",
            lambda: mine_range(
                kb["kb_triples"], kb["entity_class"], kb["class_ancestor"]
            ).localCheckpoint()
        )
        # the trainer is looked up on ``ml`` when the stage runs, so a
        # wrapper installed on the module (perfbench tracing) sees the call
        f_model = helper(
            "train_model",
            lambda: ctx.stage(
                "train_model",
                lambda: ml.weights_to_df(
                    spark,
                    ml.train_plausibility_weights(
                        kb["kb_triples"], kb["entity_label"], kge,
                        kge_entity_rows=kge_entity_rows,
                    ),
                ),
            ),
        )

        assertions = ctx.stage(
            "extract",
            lambda: extract_triples(repos),
            # north rule: explicit repartition after extraction — downstream
            # stages join on the literal, so co-locate by it now.
            repartition=(num_partitions, ["literal"]),
        )

        cand = ctx.stage(
            "candidates",
            lambda: generate_candidates(assertions, kb["entity_label"]),
        )

        def _score() -> DataFrame:
            # blocks only if training hasn't finished overlapping the
            # extract -> candidates leg (a bounded driver-side fit)
            model_w = ml.weights_from_df(f_model.result())
            return score_candidates(
                assertions, cand, kb["kb_triples"], kge,
                kge_entity_rows=kge_entity_rows,
                model_w=model_w,
            )

        # kge_entity_rows is threaded from caller metadata (Iceberg manifest
        # / stage lineage) — saves the broadcast-budget probe job.
        scored = ctx.stage("score", _score)

        def _constrain() -> DataFrame:
            # the per-(subject, predicate) object counts feed BOTH the mined
            # distribution and the per-candidate existing-count — aggregate the
            # KB once (ReuseExchange dedupes the shared scan+shuffle)
            per_subj = per_subject_counts(kb["kb_triples"])
            # The mined constraints are DIMENSION tables at any corpus scale
            # (|P| x n and |P| x |C| rows) but their consumers re-derive them
            # as duplicated plan subtrees (cardinality_score references card 3x
            # via need/stats, range_score references rng's con 2x) — one
            # constrain plan measured 162 Exchange + 28 BroadcastExchange nodes
            # for 15k output rows before truncation. localCheckpoint pins the
            # few-hundred-row results and collapses every downstream reference
            # to a leaf (guide §3.3: materialize intermediates to truncate
            # enormous plans); per_subj stays lazy — it is fact-scaled and its
            # two consumers share one reusable exchange. The two mining jobs
            # are independent of the extract -> score chain, so they were
            # submitted to the helper pool at pipeline start (guide §2.6) —
            # measured constrain wall: serial checkpoints 4.0-6.6 s,
            # no-checkpoint 5.1-6.0 s, overlapped 3.3-4.3 s, hoisted-overlap
            # hides the mining entirely behind the upstream stages.
            card, rng = f_card.result(), f_rng.result()
            out = cardinality_score(scored, card, kb["kb_triples"], per_subj=per_subj)
            out = range_score(out, rng, kb["entity_class"])
            return merge_scores(out)

        constrained = ctx.stage("constrain", _constrain)

        predictions = ctx.stage(
            "predict", lambda: rank_predictions(constrained)
        )

        decided = ctx.stage(
            "decide", lambda: decide(predictions, threshold=threshold)
        )

        canon = f_canon.result()
    except BaseException:
        # queued helpers never start; running ones lose their jobs (a
        # cancel only hits active jobs, so repeat it until every helper
        # has returned)
        canon_pool.shutdown(wait=False, cancel_futures=True)
        pending = set(helpers.values())
        while pending:
            for group in helpers:
                sc.cancelJobGroup(group)
            pending = wait(pending, timeout=0.5).not_done
        raise
    finally:
        canon_pool.shutdown(cancel_futures=True)

    ctx.stage(
        "materialize",
        lambda: apply_canonical(decided, canon),
        # final graph partitioned by predicate — the reference's own cache
        # layout (PTriple_Cache keyed by property) and the natural query key.
        # repartition on predicate ONLY: with (predicate, subject) each task
        # would write a file into every predicate dir (|tasks| x |predicates|
        # small files); on-predicate keeps it ~1 file per predicate.
        partition_by=["predicate"],
        repartition=(num_partitions, ["predicate"]),
    )
    return ctx
