"""Driver-side deterministic model training for the M7/M8 model slots.

The reference's headline scorer is a TRAINED model — an AttBiRNN fit on
sampled positive/negative triples (util_nn.py:11-84 train, 90-108
predict; Lib/util_ml.py:11-81) plus a per-(p, c) fine-tune
(prediction.py:76-88). This module supplies the training half for the
repo's Spark-side inference plumbing:

  * ``fit_logistic`` — deterministic L2-regularized logistic regression
    (IRLS/Newton, zero init, fixed iteration budget: same data -> same
    weights, no RNG), the numpy stand-in for the reference's driver-side
    TF fit. SURVEY §2.8 scopes training as pluggable/driver-side; the
    DISTRIBUTED work is feature construction and inference, which stay
    in Spark.
  * ``build_link_training_set`` — self-supervised pos/neg link pairs:
    positives are KB triples (the literal is the true object's label),
    negatives are the M4 corruption path (stages/sampling.negative_samples,
    J13-validated), features come from the SAME join_pair_features +
    TransE path the scorer runs at inference, so the learned weights see
    exactly the feature distribution they will score.
  * ``train_plausibility_weights`` — end-to-end: build pairs, collect the
    SAMPLE-BOUNDED training set (n_pos * (1 + attempts) rows, reference
    trains on ~1e4 samples too), fit, return MODEL_W-layout weights for
    score_candidates(model_w=...).

Scale note: the collect here is a bounded training SAMPLE (top-n_pos by a
stable hash — deterministic and distributed via orderBy+limit's
TakeOrdered, not a full sort), not a data-plane collect; at 100 TB the
same n_pos rows come back regardless of corpus size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.text import normalize_text, tokenize
from .stages.score import MODEL_FEATURES, apply_plausibility_native, join_pair_features


def fit_logistic(
    x: np.ndarray,
    y: np.ndarray,
    l2: float = 1e-3,
    max_iter: int = 100,
    tol: float = 1e-10,
) -> np.ndarray:
    """L2-regularized logistic regression via IRLS (Newton) —
    deterministic: zero init, no sampling, fixed tolerance.
    Returns [w_0..w_{d-1}, bias] (the MODEL_W layout; bias unpenalized)."""
    x1 = np.hstack([np.asarray(x, dtype="float64"), np.ones((len(x), 1))])
    yv = np.asarray(y, dtype="float64")
    d = x1.shape[1]
    w = np.zeros(d)
    reg = l2 * np.eye(d)
    reg[-1, -1] = 0.0
    for _ in range(max_iter):
        p = 1.0 / (1.0 + np.exp(-(x1 @ w)))
        g = x1.T @ (p - yv) + l2 * np.concatenate([w[:-1], [0.0]])
        s = np.maximum(p * (1.0 - p), 1e-9)
        h = x1.T @ (x1 * s[:, None]) + reg
        step = np.linalg.solve(h, g)
        w -= step
        if float(np.max(np.abs(step))) < tol:
            break
    return w


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(0.0)


def build_link_training_set(
    kb_triples: DataFrame,
    entity_label: DataFrame,
    kge: DataFrame,
    n_pos: int = 4000,
    attempts: int = 3,
    kge_entity_rows: int | None = None,
) -> DataFrame:
    """-> MODEL_FEATURES + label (1.0 pos / 0.0 neg) pair rows.

    Positives: a stable-hash sample of KB triples whose object has a
    label; the assertion literal is that label (what extraction would
    have produced for a correct link). Negatives: the M4 corruption path
    over the same sample — same subject/predicate/literal, entity
    replaced by a hash-picked pool entity, existing triples rejected
    (J13). lex_score is recomputed per pair with the candidate-gen
    token-Jaccard, so negatives whose label accidentally overlaps the
    literal get realistic (non-zero) lexical evidence.
    """
    from .stages.sampling import negative_samples

    from pyspark.sql import Window

    lab = entity_label.groupBy("entity").agg(F.min("label").alias("label"))
    pos = (
        kb_triples.select("s", "p", "o")
        .join(lab.select(F.col("entity").alias("o"), "label"), "o")
        .withColumn("__h", F.xxhash64("s", "p", "o"))
        .orderBy("__h")
        .limit(n_pos)
        .drop("__h")
        # 1:1 (s, p) -> literal so the negatives' literal join below
        # cannot fan out; survivor picked DETERMINISTICALLY (min o) — a
        # bare dropDuplicates keeps a plan/partitioning-dependent row,
        # breaking the module's same-data -> same-weights claim
        .withColumn(
            "__r", F.row_number().over(Window.partitionBy("s", "p").orderBy("o"))
        )
        .filter(F.col("__r") == 1)
        .drop("__r")
        .cache()
    )
    neg = negative_samples(
        pos.select("s", "p", "o"),
        entity_label.select("entity").distinct(),
        attempts=attempts,
    ).join(pos.select("s", "p", "label"), ["s", "p"])

    def pairs(df: DataFrame, label: float) -> DataFrame:
        return df.select(
            F.col("s").alias("subject"),
            F.col("p").alias("predicate"),
            F.col("label").alias("literal"),
            F.col("o").alias("entity"),
            F.lit(label).alias("label"),
        )

    both = pairs(pos, 1.0).unionByName(pairs(neg, 0.0))
    both = (
        both.withColumn("literal_norm", normalize_text("literal"))
        .join(
            lab.select("entity", normalize_text("label").alias("__elab")),
            "entity",
            "left",
        )
        .withColumn(
            "lex_score",
            _jaccard(
                F.array_distinct(tokenize("literal_norm")),
                F.array_distinct(tokenize(F.coalesce("__elab", F.lit("")))),
            ),
        )
        .drop("__elab")
    )
    # Leave-one-out featurization: positives ARE KB triples, so featurizing
    # against the full KB lets every positive see its own edge (link_feat
    # trivially 1.0, node_feat from its own triple) — a feature
    # distribution inference never sees, since a correct-but-missing link
    # has link_feat 0 (the reference's LinkFeat excludes the target
    # predicate's own edge for the same reason, util_encode.py:129-139).
    # Anti-joining the sampled positives out of the KB before featurization
    # removes the label leak for positives and is a no-op for negatives.
    kb_loo = kb_triples.join(pos.select("s", "p", "o"), ["s", "p", "o"], "left_anti")
    # the bounded sample is materialized once (a few thousand rows), so
    # the bounded_probe key broadcasts below don't re-run the sample
    # lineage per probe; bounded_probe keeps the trainer from shuffling
    # the whole KB to featurize a fixed-size sample (see
    # score.join_pair_features) — at 32M quads the unordered-pair distinct
    # alone is otherwise a corpus-scale shuffle inside train_model
    both = both.localCheckpoint()
    feats = join_pair_features(both, kb_loo, kge, kge_entity_rows, bounded_probe=True)
    # native path computes emb_score (TransE) with zero Python; the
    # default-weight model_score column is ignored by the trainer
    out = apply_plausibility_native(feats).select(*MODEL_FEATURES, "label")
    # expose the cached/checkpointed samples so the trainer can unpersist
    # them after the bounded driver collect (they would otherwise live to
    # session end)
    out._kgcs_cached_sample = pos
    out._kgcs_checkpointed = both
    return out


def train_plausibility_weights(
    kb_triples: DataFrame,
    entity_label: DataFrame,
    kge: DataFrame,
    n_pos: int = 4000,
    attempts: int = 3,
    l2: float = 1e-3,
    kge_entity_rows: int | None = None,
) -> np.ndarray:
    """Fit the M8 plausibility logistic on self-supervised KB pairs.
    Returns MODEL_W-layout weights for score_candidates(model_w=...)."""
    pairs_df = build_link_training_set(
        kb_triples, entity_label, kge, n_pos=n_pos, attempts=attempts,
        kge_entity_rows=kge_entity_rows,
    )
    train = pairs_df.toPandas()  # bounded: <= n_pos * (1 + attempts) rows
    cached = getattr(pairs_df, "_kgcs_cached_sample", None)
    if cached is not None:
        cached.unpersist()
    ckpt = getattr(pairs_df, "_kgcs_checkpointed", None)
    if ckpt is not None:
        from .operators.components import _checkpoint_blocks, _unpersist_blocks

        _unpersist_blocks(_checkpoint_blocks(ckpt))
    if train.empty or train["label"].nunique() < 2:
        from .stages.score import MODEL_W

        return MODEL_W.copy()  # degenerate corpus: keep the shipped prior
    # toPandas row order follows task timing and the fit's float sums are
    # order-sensitive, so sort the rows: same data -> same weights
    train = train.sort_values([*MODEL_FEATURES, "label"], ignore_index=True)
    x = train[MODEL_FEATURES].to_numpy(dtype="float64")
    y = train["label"].to_numpy(dtype="float64")
    return fit_logistic(x, y, l2=l2)


def weights_to_df(spark, w: np.ndarray) -> DataFrame:
    """Weights as a (feature, weight) DataFrame — lets the pipeline
    checkpoint/resume the trained model like any other stage output."""
    rows = list(zip([*MODEL_FEATURES, "__bias__"], [float(v) for v in w]))
    return spark.createDataFrame(rows, "feature string, weight double")


def weights_from_df(df: DataFrame) -> np.ndarray:
    by_name = {r["feature"]: r["weight"] for r in df.collect()}
    return np.array(
        [by_name[f] for f in MODEL_FEATURES] + [by_name["__bias__"]],
        dtype="float64",
    )
