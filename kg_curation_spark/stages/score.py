"""Stage 2b — feature joins + batched scoring of candidate links.

For every (subject, predicate, literal) x candidate entity:

  lex_score    token-Jaccard from candidate gen (stage 2a)
  link_feat    does the KB hold any (subject, p', cand) or (cand, p', subject)
               edge? (LinkFeat, util_encode.py:129-139 — J3 composite-key
               self-join, re-expressed as two semi-join probes)
  node_feat    candidate appears >1 times as object of this predicate
               (NodeFeat, util_encode.py:105-127 — J4 count join)
  emb_score    TransE over (subject, predicate, cand) vectors, zeros for
               missing ids (J10/F8, predict_embedding.py:128-156)
  model_score  plausibility inference — logistic stand-in for the AttBiRNN
               scorer (M8, util_nn.py:90-108) over the trained weights
               (ml.train_plausibility_weights, SURVEY §2.8 M7).

Both scores are Column expressions (apply_plausibility_native): the stage
runs with no Python worker.

Output: scored(subject, predicate, literal, literal_norm, entity,
              lex_score, link_feat, node_feat, emb_score, model_score)

Scale notes: kge vectors join via broadcast (dimension table); the KB probes
are semi-join shaped (left_semi/left join + groupBy on the probe key) so the
big side shuffles once on each probe key; AQE handles candidate-side skew.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text
from ..session import broadcast_budget, estimated_row_bytes

# deterministic stand-in weights for the plausibility model (M8): logistic
# over [lex, link, node, emb, bias]. A real deployment drops a trained
# checkpoint here; the Spark-side inference plumbing is identical. Weights
# lean on subject-context signals (link_feat, emb) — lexical overlap alone
# must not clear the decision threshold, or must-eliminate assertions whose
# literal resembles some entity label get wrongly corrected.
MODEL_W = np.array([1.2, 2.2, 0.3, 1.5, -3.4], dtype="float64")

MODEL_FEATURES = ["lex_score", "link_feat", "node_feat", "emb_score"]


def attach_features(
    assertions: DataFrame,
    candidates: DataFrame,
    kb_triples: DataFrame,
    kge: DataFrame,
    kge_entity_rows: int | None = None,
) -> DataFrame:
    """assertions x candidates (on normalized literal) + KB feature joins."""
    a = assertions.withColumn("literal_norm", normalize_text("literal"))
    cand = a.join(candidates, "literal_norm")  # fan-out join; AQE skew-split
    return join_pair_features(cand, kb_triples, kge, kge_entity_rows)


def join_pair_features(
    cand: DataFrame,
    kb_triples: DataFrame,
    kge: DataFrame,
    kge_entity_rows: int | None = None,
    bounded_probe: bool = False,
) -> DataFrame:
    """KB feature joins over (subject, predicate, entity[, …]) pair rows —
    shared by inference (attach_features) and training-pair construction
    (ml.build_link_training_set), so learned weights see EXACTLY the
    features the scorer applies them to.

    bounded_probe=True (training: cand is a SAMPLE of a few thousand
    rows) prefilters each KB-wide probe build with a broadcast semi-join
    on cand's own keys before the distinct/groupBy, so featurizing a
    bounded sample never shuffles the whole KB: the unordered-pair
    distinct and the (p, o) count aggregate then run over only the KB
    rows that can match a sample row. Feature VALUES are identical — a
    left join only ever reads probe rows whose key appears in cand, and
    the (p, o) counts are computed over all KB rows for each surviving
    key. Never set this for corpus-scaled cand: broadcasting its key set
    would be the classic ship-everything failure (guide §3.2)."""
    # LinkFeat: any KB edge between subject and candidate, either direction.
    # "Either direction" means the UNORDERED pair is what's probed, so the
    # probe set is keyed on (least, greatest) — one scan and an |E|-row
    # distinct instead of symmetrize-then-distinct, which doubled the scan
    # and pushed 2|E| rows through the shuffle (the score stage's measured
    # 2->8-core drag at 32M quads was exactly such vocabulary-scale
    # string-keyed exchanges).
    # (least/greatest skip NULLs, which would collapse (x, NULL) to (x, x)
    # and falsely match self-loop edges; a NULL equi-join key never matches,
    # so filter/propagate NULLs explicitly to keep semantics identical.)
    kb_lp = kb_triples.filter(F.col("s").isNotNull() & F.col("o").isNotNull()).select(
        F.least("s", "o").alias("__lp_a"), F.greatest("s", "o").alias("__lp_b")
    )
    if bounded_probe:
        pkeys = (
            cand.filter(F.col("subject").isNotNull() & F.col("entity").isNotNull())
            .select(
                F.least("subject", "entity").alias("__lp_a"),
                F.greatest("subject", "entity").alias("__lp_b"),
            )
            .distinct()
        )
        kb_lp = kb_lp.join(F.broadcast(pkeys), ["__lp_a", "__lp_b"], "left_semi")
    pairs = kb_lp.distinct().withColumn("link_feat", F.lit(1.0))
    both = F.col("subject").isNotNull() & F.col("entity").isNotNull()
    cand = (
        cand.withColumn("__lp_a", F.when(both, F.least("subject", "entity")))
        .withColumn("__lp_b", F.when(both, F.greatest("subject", "entity")))
        .join(pairs, ["__lp_a", "__lp_b"], "left")
        .drop("__lp_a", "__lp_b")
        .fillna({"link_feat": 0.0})
    )

    # NodeFeat: #{(p, o=entity)} > 1 in KB (util_encode.py:105-109)
    kb_po = kb_triples
    if bounded_probe:
        po_keys = cand.select(
            F.col("predicate").alias("p"), F.col("entity").alias("o")
        ).distinct()
        kb_po = kb_triples.join(F.broadcast(po_keys), ["p", "o"], "left_semi")
    po_counts = kb_po.groupBy(
        F.col("p").alias("predicate"), F.col("o").alias("entity")
    ).agg(F.count(F.lit(1)).alias("__n"))
    cand = (
        cand.join(po_counts, ["predicate", "entity"], "left")
        .withColumn(
            "node_feat", F.when(F.coalesce("__n", F.lit(0)) > 1, 1.0).otherwise(0.0)
        )
        .drop("__n")
    )

    # Embedding attach (J10): dimension joins, zeros for missing. The
    # entity-vector side grows with the corpus, so broadcast is gated on the
    # session's byte budget at Spark's per-row size estimate (a broadcast
    # relation is built serially on the driver and shipped to every
    # executor); under the budget the broadcast hint saves the shuffle. AQE
    # still auto-broadcasts when post-UDF stats are known. Callers that
    # already know the entity-vector row count (stage lineage,
    # Iceberg/parquet manifest metadata) pass kge_entity_rows and skip the
    # limit+count probe job entirely; a budget of 0 needs no probe.
    evec = kge.filter(F.col("kind") == "e").select("id", "vec")
    rvec = kge.filter(F.col("kind") == "r").select("id", "vec")
    budget = broadcast_budget(kge.sparkSession)
    row_bytes = estimated_row_bytes(evec.schema)
    n_evec = kge_entity_rows
    if n_evec is None and budget:
        n_evec = evec.limit(budget // row_bytes + 1).count()
    if budget and n_evec * row_bytes <= budget:
        evec = F.broadcast(evec)
    rvec = F.broadcast(rvec)  # relation vocabulary is always small
    cand = (
        cand.join(evec.withColumnRenamed("id", "subject").withColumnRenamed("vec", "s_vec"), "subject", "left")
        .join(rvec.withColumnRenamed("id", "predicate").withColumnRenamed("vec", "r_vec"), "predicate", "left")
        .join(evec.withColumnRenamed("id", "entity").withColumnRenamed("vec", "o_vec"), "entity", "left")
    )
    return cand


def graph_feature_vectors(
    cand: DataFrame,
    kb_triples: DataFrame,
    properties: list[str],
    entity_class: DataFrame | None = None,
    classes: list[str] | None = None,
) -> DataFrame:
    """M2 full graph-feature block (util_encode.py:96-180 TripleGraphEncoder):

    link_vec  — 2*|P| floats: bit i = KB holds (subject, properties[i],
                entity), bit |P|+i = KB holds (entity, properties[i],
                subject), skipping the triple's own predicate
                (util_encode.py:129-139 LinkFeat).
    class_vec — |C| + |P| + |C| one-hot block: subject classes ++
                predicate one-hot ++ object classes
                (util_encode.py:141-156 ClassFeat).

    Vocabularies (properties, classes) are dimension-sized orderings —
    exactly the reference's ``self.properties`` / ``self.classes`` index
    lists. The per-pair edge sets come from TWO grouped joins (forward /
    backward), so the cost at scale is one shuffle per direction on
    (subject, entity) — never a |P|-way join fan-out.
    """
    empty = F.array().cast("array<string>")
    fwd = kb_triples.groupBy(
        F.col("s").alias("subject"), F.col("o").alias("entity")
    ).agg(F.collect_set("p").alias("__fwd"))
    bwd = kb_triples.groupBy(
        F.col("o").alias("subject"), F.col("s").alias("entity")
    ).agg(F.collect_set("p").alias("__bwd"))
    out = (
        cand.join(fwd, ["subject", "entity"], "left")
        .join(bwd, ["subject", "entity"], "left")
    )

    def _bit(arr, p):
        return (
            F.when(
                (F.col("predicate") != F.lit(p))
                & F.array_contains(F.coalesce(arr, empty), p),
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .cast("float")
        )

    out = out.withColumn(
        "link_vec",
        F.array(
            *[_bit(F.col("__fwd"), p) for p in properties],
            *[_bit(F.col("__bwd"), p) for p in properties],
        ),
    ).drop("__fwd", "__bwd")

    if entity_class is not None and classes:
        scls = entity_class.groupBy(F.col("entity").alias("subject")).agg(
            F.collect_set("class").alias("__scls")
        )
        ocls = entity_class.groupBy("entity").agg(
            F.collect_set("class").alias("__ocls")
        )

        def _cbit(arr, c):
            return (
                F.when(F.array_contains(F.coalesce(arr, empty), c), F.lit(1.0))
                .otherwise(F.lit(0.0))
                .cast("float")
            )

        out = (
            out.join(scls, "subject", "left")
            .join(ocls, "entity", "left")
            .withColumn(
                "class_vec",
                F.array(
                    *[_cbit(F.col("__scls"), c) for c in classes],
                    *[
                        F.when(F.col("predicate") == p, F.lit(1.0))
                        .otherwise(F.lit(0.0))
                        .cast("float")
                        for p in properties
                    ],
                    *[_cbit(F.col("__ocls"), c) for c in classes],
                ),
            )
            .drop("__scls", "__ocls")
        )
    return out


def graph_feature_vectors_sparse(
    cand: DataFrame,
    kb_triples: DataFrame,
    property_index: DataFrame,
    n_properties: int,
    entity_class: DataFrame | None = None,
    class_index: DataFrame | None = None,
    n_classes: int = 0,
) -> DataFrame:
    """M2 at the reference's own vocabulary scale (|P| = 1,958 in
    util_encode.py:96-156 / Data/G_properties.csv): the SPARSE form of
    graph_feature_vectors. The dense form materializes a 2|P| float array
    per candidate row — 4k codegen'd expressions and ~16 KB/row at 2k
    properties, the wrong physical plan for a web-scale corpus. Here each
    row carries only its ACTIVE indices:

      link_idx  — sorted bigint indices into the dense 2|P| LinkFeat
                  layout: i   = KB holds (subject, P[i], entity),
                          |P|+i = KB holds (entity, P[i], subject),
                  own predicate skipped in both directions — bit-for-bit
                  the dense link_vec's nonzero positions.
      class_idx — indices into the |C|+|P|+|C| ClassFeat layout
                  (subject classes ++ predicate one-hot ++ object classes).

    property_index/class_index: (p|class, idx) dictionary tables
    (dictionary_encode output — value-ordered, so indices equal the dense
    form's sorted-vocabulary positions). They join DISTRIBUTED (broadcast
    when small, shuffle when the vocabulary is huge) — the vocabulary
    never materializes on the driver, unlike the dense form's Python list.
    """
    pidx = property_index.select(F.col("p"), F.col("idx").alias("__pi"))
    edges = kb_triples.select("s", "p", "o").distinct().join(pidx, "p")
    fwd = edges.groupBy(
        F.col("s").alias("subject"), F.col("o").alias("entity")
    ).agg(F.array_sort(F.collect_set("__pi")).alias("__fwd_i"))
    bwd = edges.groupBy(
        F.col("o").alias("subject"), F.col("s").alias("entity")
    ).agg(F.array_sort(F.collect_set("__pi")).alias("__bwd_i"))
    empty = F.array().cast("array<bigint>")

    out = (
        cand.join(fwd, ["subject", "entity"], "left")
        .join(bwd, ["subject", "entity"], "left")
        .join(
            pidx.select(F.col("p").alias("predicate"), F.col("__pi").alias("__own")),
            "predicate",
            "left",
        )
    )

    def _drop_own(arr):
        # own-predicate skip (util_encode.py:129-139); array_remove(x, NULL)
        # is NULL, so guard the unindexed-predicate case explicitly
        return F.when(
            F.col("__own").isNull(), F.coalesce(arr, empty)
        ).otherwise(F.array_remove(F.coalesce(arr, empty), F.col("__own")))

    out = out.withColumn(
        "link_idx",
        F.array_sort(
            F.concat(
                _drop_own(F.col("__fwd_i")),
                F.transform(
                    _drop_own(F.col("__bwd_i")), lambda x: x + F.lit(n_properties)
                ),
            )
        ),
    ).drop("__fwd_i", "__bwd_i")

    if entity_class is not None and class_index is not None:
        cidx = class_index.select(F.col("class"), F.col("idx").alias("__ci"))
        ec = entity_class.join(cidx, "class")
        scls = ec.groupBy(F.col("entity").alias("subject")).agg(
            F.array_sort(F.collect_set("__ci")).alias("__s_ci")
        )
        ocls = ec.groupBy("entity").agg(
            F.array_sort(F.collect_set("__ci")).alias("__o_ci")
        )
        out = (
            out.join(scls, "subject", "left")
            .join(ocls, "entity", "left")
            .withColumn(
                "class_idx",
                F.array_sort(
                    F.concat(
                        F.coalesce("__s_ci", empty),
                        F.when(
                            F.col("__own").isNotNull(),
                            F.array(F.col("__own") + F.lit(n_classes)),
                        ).otherwise(empty),
                        F.transform(
                            F.coalesce("__o_ci", empty),
                            lambda x: x + F.lit(n_classes + n_properties),
                        ),
                    )
                ),
            )
            .drop("__s_ci", "__o_ci")
        )
    return out.drop("__own")


def apply_plausibility_native(
    scored: DataFrame, dim: int = 16, model_w: "np.ndarray | None" = None
) -> DataFrame:
    """TransE (F8) + logistic stand-in (M8) as pure Column expressions —
    whole-stage codegen, no Python boundary: shipping 3 x dim floats per
    candidate row through Arrow for ~10 flops saturated memory bandwidth
    and stopped the score stage scaling past ~2x at 16M quads. Missing
    vectors score as zeros (J10)."""
    zeros = F.array_repeat(F.lit(0.0).cast("float"), dim)
    sv = F.coalesce("s_vec", zeros)
    rv = F.coalesce("r_vec", zeros)
    ov = F.coalesce("o_vec", zeros)
    d = (
        F.aggregate(
            F.zip_with(
                F.zip_with(sv, rv, lambda a, b: (a + b).cast("double")),
                ov,
                lambda x, c: F.abs(x - c.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / float(dim)
    )
    emb = 1.0 / (1.0 + F.exp(-1.0 / F.greatest(d, F.lit(1e-9))))
    out = scored.withColumn("emb_score", emb)
    w_model = MODEL_W if model_w is None else model_w
    z = F.lit(float(w_model[-1]))
    for w, c in zip(w_model[:-1], MODEL_FEATURES):
        z = z + float(w) * F.col(c)
    out = out.withColumn("model_score", 1.0 / (1.0 + F.exp(-z)))
    return out.drop(*[f.name for f in out.schema.fields if f.name.endswith("_vec")])


def score_candidates(
    assertions: DataFrame,
    candidates: DataFrame,
    kb_triples: DataFrame,
    kge: DataFrame,
    kge_entity_rows: int | None = None,
    model_w: "np.ndarray | None" = None,
) -> DataFrame:
    feats = attach_features(
        assertions, candidates, kb_triples, kge, kge_entity_rows=kge_entity_rows
    )
    return apply_plausibility_native(feats, model_w=model_w)
