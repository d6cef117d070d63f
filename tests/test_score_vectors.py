"""M2 full graph-feature vectors (util_encode.py:96-180) — LinkFeat 2|P|
and ClassFeat |C|+|P|+|C| blocks — and the native M8 scorer."""

from __future__ import annotations

from kg_curation_spark.stages.score import graph_feature_vectors


def _kb(spark):
    return spark.createDataFrame(
        [("a", "p1", "b"), ("b", "p2", "a"), ("a", "p2", "c")],
        "s string, p string, o string",
    )


def test_linkfeat_vector_bits(spark):
    cand = spark.createDataFrame(
        [("a", "p1", "b"), ("a", "p1", "c")],
        "subject string, predicate string, entity string",
    )
    out = {
        (r["subject"], r["entity"]): r["link_vec"]
        for r in graph_feature_vectors(cand, _kb(spark), ["p1", "p2"]).collect()
    }
    # (a,p1,b): fwd p1 skipped (own predicate), fwd p2 absent; bwd p2 holds
    assert out[("a", "b")] == [0.0, 0.0, 0.0, 1.0]
    # (a,p1,c): fwd p2 holds (a,p2,c); no backward edge
    assert out[("a", "c")] == [0.0, 1.0, 0.0, 0.0]


def test_classfeat_one_hot_block(spark):
    cand = spark.createDataFrame(
        [("a", "p1", "b")], "subject string, predicate string, entity string"
    )
    ec = spark.createDataFrame(
        [("a", "cX"), ("b", "cY"), ("b", "cX")], "entity string, class string"
    )
    row = graph_feature_vectors(
        cand, _kb(spark), ["p1", "p2"], entity_class=ec, classes=["cX", "cY"]
    ).first()
    # subject classes ++ predicate one-hot ++ object classes
    assert row["class_vec"] == [1.0, 0.0, 1.0, 0.0, 1.0, 1.0]


def test_native_scores_match_numpy_reference(spark):
    """apply_plausibility_native against the same formulas in float64
    numpy: TransE emb_score = sigmoid(1 / mean|s + r - o|) with missing
    vectors as zeros, model_score = sigmoid(w . features + b)."""
    import numpy as np

    from kg_curation_spark.stages.score import (
        MODEL_FEATURES, MODEL_W, apply_plausibility_native,
    )

    rows = [
        ("a", "p1", "b", 0.9, 1.0, 0.0, [0.1] * 16, [0.0] * 16, [0.2] * 16),
        ("a", "p1", "c", 0.4, 0.0, 1.0, None, [0.05] * 16, [0.2] * 16),
        ("x", "p2", "y", 0.0, 0.0, 0.0, None, None, None),
    ]
    schema = (
        "subject string, predicate string, entity string, lex_score double, "
        "link_feat double, node_feat double, s_vec array<float>, "
        "r_vec array<float>, o_vec array<float>"
    )
    cand = spark.createDataFrame(rows, schema)
    got = {
        (r["subject"], r["entity"]): r
        for r in apply_plausibility_native(cand, dim=16).collect()
    }
    assert len(got) == len(rows)
    assert not any(c.endswith("_vec") for c in next(iter(got.values())).asDict())

    def vec(v):
        return np.zeros(16) if v is None else np.asarray(v, dtype="float32").astype("float64")

    assert MODEL_FEATURES == ["lex_score", "link_feat", "node_feat", "emb_score"]
    for subj, _, ent, lex, link, node, s_v, r_v, o_v in rows:
        d = np.abs(vec(s_v) + vec(r_v) - vec(o_v)).mean()
        emb = 1.0 / (1.0 + np.exp(-1.0 / max(d, 1e-9)))
        x = np.array([lex, link, node, emb])
        model = 1.0 / (1.0 + np.exp(-(x @ MODEL_W[:-1] + MODEL_W[-1])))
        r = got[(subj, ent)]
        assert abs(r["emb_score"] - emb) < 1e-9, (subj, ent, r["emb_score"], emb)
        assert abs(r["model_score"] - model) < 1e-9, (subj, ent, r["model_score"], model)


def test_sparse_indices_equal_dense_nonzero_positions(spark):
    """graph_feature_vectors_sparse must mark exactly the dense form's
    nonzero bit positions, for LinkFeat and ClassFeat, at a vocabulary the
    dense form can still materialize (the equivalence anchor for the
    |P|=1,958 scale mode)."""
    from kg_curation_spark.stages.sampling import dictionary_encode
    from kg_curation_spark.stages.score import graph_feature_vectors_sparse

    props = [f"p{i:02d}" for i in range(16)]
    classes = [f"c{i:02d}" for i in range(6)]
    kb_rows = [
        (f"e{(i * 7) % 9}", props[(i * 5) % 16], f"e{(i * 3) % 9}")
        for i in range(120)
    ]
    kb = spark.createDataFrame(kb_rows, "s string, p string, o string").distinct()
    ec = spark.createDataFrame(
        [(f"e{i}", classes[(i * 5 + j) % 6]) for i in range(9) for j in range(2)],
        "entity string, class string",
    ).distinct()
    cand = spark.createDataFrame(
        [(f"e{i}", props[(i * 11) % 16], f"e{(i + 4) % 9}") for i in range(9)],
        "subject string, predicate string, entity string",
    )
    dense = {
        (r["subject"], r["entity"]): (r["link_vec"], r["class_vec"])
        for r in graph_feature_vectors(
            cand, kb, props, entity_class=ec, classes=classes
        ).collect()
    }
    pindex = dictionary_encode(kb.select("p"), "p", "idx")
    cindex = dictionary_encode(ec.select("class"), "class", "idx")
    sparse = {
        (r["subject"], r["entity"]): (r["link_idx"], r["class_idx"])
        for r in graph_feature_vectors_sparse(
            cand, kb, pindex, len(props),
            entity_class=ec, class_index=cindex, n_classes=len(classes),
        ).collect()
    }
    assert dense.keys() == sparse.keys()
    for k, (lv, cv) in dense.items():
        assert sparse[k][0] == [i for i, x in enumerate(lv) if x > 0], k
        assert sparse[k][1] == [i for i, x in enumerate(cv) if x > 0], k


def test_complex_reduces_to_distmult_when_imaginary_zero(spark):
    """ComplEx with zero imaginary halves IS DistMult on the real halves
    (ComplEx.py:22-23 with e2/r2 = 0) — and with nonzero imaginary parts it
    scores asymmetric pairs differently, which DistMult cannot."""
    import pyspark.sql.functions as F

    from kg_curation_spark.functions.scoring import complex_score, distmult_score

    re_h, re_r, re_t = [0.5, -0.2], [0.3, 0.8], [-0.1, 0.4]
    rows = [
        (1, re_h + [0.0, 0.0], re_r + [0.0, 0.0], re_t + [0.0, 0.0]),
        (2, re_h + [0.7, 0.1], re_r + [0.2, -0.5], re_t + [0.3, 0.9]),
        (3, re_t + [0.3, 0.9], re_r + [0.2, -0.5], re_h + [0.7, 0.1]),  # swapped
    ]
    df = spark.createDataFrame(
        rows, "i int, hv array<float>, rv array<float>, tv array<float>"
    )
    out = {
        r["i"]: (r["cx"], r["dm"])
        for r in df.select(
            "i",
            complex_score("hv", "rv", "tv").alias("cx"),
            distmult_score(
                F.slice("hv", 1, 2), F.slice("rv", 1, 2), F.slice("tv", 1, 2)
            ).alias("dm"),
        ).collect()
    }
    assert abs(out[1][0] - out[1][1]) < 1e-9  # zero-imag == DistMult
    assert abs(out[2][0] - out[3][0]) > 1e-6  # asymmetric under h<->t swap


def test_linkfeat_unordered_pair_probe(spark):
    """attach_features' link_feat probes the UNORDERED (subject, entity)
    pair against KB edges in either direction; a NULL on either side never
    matches (equi-join semantics), even when the KB holds a self-loop that
    a NULL-skipping least/greatest key would collapse onto."""
    from kg_curation_spark.stages.score import attach_features

    kb = spark.createDataFrame(
        [("a", "p1", "b"), ("c", "p2", "a"), ("x", "p3", "x")],
        "s string, p string, o string",
    )
    assertions = spark.createDataFrame(
        [("b", "p1", "l1"), ("a", "p1", "l2"), ("a", "p1", "l3"), ("x", "p1", "l4")],
        "subject string, predicate string, literal string",
    )
    candidates = spark.createDataFrame(
        [("l1", "a", 0.5, 1), ("l2", "c", 0.5, 1), ("l3", "b", 0.5, 1),
         ("l4", None, 0.5, 1)],
        "literal_norm string, entity string, lex_score double, rank int",
    )
    kge = spark.createDataFrame(
        [("a", "e", [0.1] * 16)], "id string, kind string, vec array<float>"
    )
    out = {
        (r["subject"], r["entity"]): r["link_feat"]
        for r in attach_features(assertions, candidates, kb, kge).collect()
    }
    assert out[("b", "a")] == 1.0  # reverse direction of (a, p1, b)
    assert out[("a", "c")] == 1.0  # reverse direction of (c, p2, a)
    assert out[("a", "b")] == 1.0  # forward direction
    assert out[("x", None)] == 0.0  # NULL never matches the (x,p3,x) self-loop
