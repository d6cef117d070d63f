"""Connected components: correctness on known graphs + determinism.

Every graph runs through both branches of the driver-finish gate: a
broadcast threshold of -1 forces the large-star/small-star loop, the
session default finishes on the driver. Labels must be identical, and
equal to a plain-Python union-find under the one output contract: label =
smallest node, self-loop-only nodes get no row, a null endpoint links
nothing."""

from __future__ import annotations

import contextlib
import random

import pyspark.sql.functions as F

from kg_curation_spark.operators import components
from kg_curation_spark.operators.components import connected_components


@contextlib.contextmanager
def _broadcast_threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _run(spark, edges, schema="src string, dst string", **kw):
    df = spark.createDataFrame(edges, schema)
    out = connected_components(df, **kw)
    return {r["node"]: r["component"] for r in out.collect()}


def _run_loop(spark, edges, **kw):
    """Labels from the loop alone: no budget, so no driver finish."""
    with _broadcast_threshold(spark, "-1"):
        return _run(spark, edges, **kw)


def _run_both(spark, edges, **kw):
    """Labels from the loop and from the driver finish; they must agree."""
    loop = _run_loop(spark, edges, **kw)
    driver = _run(spark, edges, **kw)
    assert loop == driver
    return driver


def _ref_labels(edges):
    """Plain-Python union-find reference: node -> smallest node name, for
    every endpoint of an edge that is neither a self-loop nor has a null
    end."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u is None or v is None or u == v:
            continue
        for x in (u, v):
            parent.setdefault(x, x)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_two_chains_and_isolate(spark):
    comp = _run_both(
        spark,
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")],
    )
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert "z" not in comp  # self-loop-only: no row


def test_long_path_converges(spark):
    # path of 40 nodes — stresses the O(log n) round bound
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)]
    comp = _run_both(spark, edges)
    assert set(comp.values()) == {"n00"}
    assert len(comp) == 41


def test_star_hub(spark):
    # hot hub: one node connected to 200 leaves (large-star case)
    edges = [("hub", f"leaf{i:03d}") for i in range(200)]
    comp = _run_both(spark, edges)
    assert set(comp.values()) == {"hub"}


def test_component_rep_is_min_name(spark):
    comp = _run_both(spark, [("q", "m"), ("m", "b"), ("q", "z")])
    assert set(comp.values()) == {"b"}


def test_freeze_stars_equivalent_on_mixed_graph(spark):
    """freeze_stars must produce identical labels on a graph mixing the
    shapes a near-dup similarity graph produces: isolated pairs (freezable
    round 1), triangles, small stars, a long chain (never freezable until
    the end), and a hub."""
    edges = []
    edges += [(f"p{i}a", f"p{i}b") for i in range(30)]  # isolated pairs
    edges += [  # triangles
        e for i in range(10)
        for e in [(f"t{i}x", f"t{i}y"), (f"t{i}y", f"t{i}z"), (f"t{i}z", f"t{i}x")]
    ]
    edges += [(f"s{i // 4}hub", f"s{i // 4}l{i % 4}") for i in range(40)]  # stars
    edges += [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(30)]  # chain
    edges += [("bighub", f"bh{i:03d}") for i in range(100)]  # hub
    base = _run_loop(spark, edges, freeze_stars=False)
    # no budget keeps the graph in the loop, where every round runs the
    # freeze test — the default budget would finish it on the driver
    frozen = _run_loop(spark, edges, freeze_stars=True)
    assert frozen == base
    assert _run(spark, edges) == base


def test_freeze_stars_random_graphs_equivalent(spark):
    """Randomized equivalence: Erdős–Rényi-ish sparse graphs, several
    seeds — the two code paths must agree exactly."""
    import random

    for seed in (7, 19, 23):
        rng = random.Random(seed)
        n = 300
        edges = [
            (f"v{rng.randrange(n):03d}", f"v{rng.randrange(n):03d}")
            for _ in range(320)
        ]
        base = _run_loop(spark, edges, freeze_stars=False)
        frozen = _run_loop(spark, edges, freeze_stars=True)
        assert frozen == base, f"seed {seed}"
        assert _run(spark, edges) == base, f"seed {seed}"
        assert base == _ref_labels(edges), f"seed {seed}"


def test_canonicalize_equals_reference_union_find(spark):
    """stages/canonicalize.canonicalize must agree in both branches with a
    plain union-find over its own similarity edges, on a graph mixing
    multi-label bridge entities, redirect chains through unlabeled
    entities, redirects inside a group, and cross-group redirect merges."""
    from kg_curation_spark.stages.canonicalize import (
        canonicalize, similarity_edges,
    )

    entity_label = spark.createDataFrame(
        [
            # group "alpha": a1 (rep), a2, a9
            ("a1", "Alpha"), ("a2", "alpha"), ("a9", "ALPHA"),
            # group "beta": b1 (rep), b2
            ("b1", "beta"), ("b2", "Beta"),
            # group "gamma": g1 (rep), g2
            ("g1", "gamma"), ("g2", "Gamma"),
            # multi-label bridge: m1 carries beta AND gamma labels
            ("m1", "beta"), ("m1", "gamma"),
            # singleton group
            ("s1", "solo"),
            # group "delta" merged to alpha via redirect below
            ("d1", "delta"), ("d2", "Delta"),
            # null labels form no group
            ("n1", None), ("n2", None),
        ],
        "entity string, label string",
    )
    redirects = spark.createDataFrame(
        [
            ("d2", "x_unlabeled"),      # chain through an unlabeled node
            ("x_unlabeled", "a2"),      # ... lands in group alpha
            ("a1", "a9"),               # redirect inside one group (no-op)
            ("y_only", "z_only"),       # redirect-only component
        ],
        "entity string, equivalent string",
    )
    edges = similarity_edges(entity_label, redirects).collect()
    # canonicalize takes the session budget: -1 forces the loop
    got = {}
    for branch, threshold in (("loop", "-1"), ("driver", str(64 << 20))):
        with _broadcast_threshold(spark, threshold):
            canon = canonicalize(entity_label, redirects)
            got[branch] = {r["node"]: r["component"] for r in canon.collect()}
    assert got["loop"] == got["driver"]
    got_m = got["driver"]
    assert got_m == _ref_labels([(r["src"], r["dst"]) for r in edges])
    # spot checks: delta merged into alpha through the unlabeled chain
    assert got_m["d1"] == got_m["a1"] == "a1"
    assert got_m["m1"] == got_m["b1"] == got_m["g1"] == "b1"
    assert got_m["y_only"] == got_m["z_only"] == "y_only"
    # singleton label group: no edge, no row — apply_canonical
    # coalesces it to itself downstream
    assert "s1" not in got_m
    assert "n1" not in got_m and "n2" not in got_m


def test_many_small_clusters_int64(spark):
    """The near-dup pair graph's shape: int64 document ids, mostly pairs
    and triples, a few chains, many ids in no pair at all."""
    rng = random.Random(5)
    edges = []
    doc = 0
    for _ in range(150):
        size = rng.choice([2, 2, 2, 3, 3, 4, 8])
        ids = list(range(doc, doc + size))
        rng.shuffle(ids)
        edges += [(ids[i], ids[i + 1]) for i in range(size - 1)]
        doc += size + rng.randrange(3)
    edges += [(b, a) for a, b in edges[::7]]  # both directions, duplicates
    comp = _run_both(spark, edges, schema="src long, dst long")
    assert comp == _ref_labels(edges)
    assert len(set(comp.values())) == 150


def test_non_ascii_names_order_like_spark(spark):
    """The min-name label must follow Spark's string order (UTF-8 bytes),
    which the driver path gets from Arrow's sort of the names. U+FFEF vs
    U+1D518 is where UTF-16 code-unit order (Java's String.compareTo)
    would disagree."""
    edges = [
        ("\uffef", "\U0001d518"), ("\U0001d518", "zeta"),
        ("é", "e\u0301"), ("e\u0301", "Ä"),
        ("日本", "中文"), ("中文", "ß"),
        ("A", "a"),
    ]
    comp = _run_both(spark, edges)
    assert comp == _ref_labels(edges)
    assert comp["\U0001d518"] == "zeta"
    assert comp["\uffef"] == "zeta"


def test_null_endpoints_and_self_loops(spark):
    """An edge with a null endpoint links nothing, and a node whose every
    edge is a self-loop gets no row: only endpoints of non-self-loop
    edges appear."""
    edges = [("a", "b"), ("b", None), (None, "c"), ("z", "z"), ("q", "q"),
             ("q", "r"), (None, None)]
    comp = _run_both(spark, edges)
    assert comp == {"a": "a", "b": "a", "q": "q", "r": "q"}
    assert comp == _ref_labels(edges)


def test_node_type_kept_in_both_branches(spark):
    """Both paths run on the nodes themselves: the output columns keep the
    endpoints' common type, int64 and string alike."""
    from pyspark.sql.types import LongType, StringType

    cases = [
        ("src long, dst long", [(30, 10), (10, 20), (7, 8), (5, 5)], LongType()),
        ("src int, dst long", [(30, 10), (10, 20), (7, 8)], LongType()),
        ("src string, dst string", [("c", "a"), ("a", "b"), ("x", "y")], StringType()),
    ]
    for schema, edges, dtype in cases:
        df = spark.createDataFrame(edges, schema)
        for threshold in ("-1", str(64 << 20)):
            with _broadcast_threshold(spark, threshold):
                out = connected_components(df)
                assert [f.dataType for f in out.schema] == [dtype, dtype], schema
                comp = {r["node"]: r["component"] for r in out.collect()}
            assert comp == _ref_labels(edges), (schema, threshold)


def test_loop_rounds_then_driver_finish(spark, monkeypatch):
    """A budget below the input's size but above the residual's: the loop
    runs at least one round (freezing the isolated pairs), then the
    collapsed clique finishes on the driver, unioned with the frozen
    part."""
    clique = [(f"c{i:02d}", f"c{j:02d}") for i in range(20) for j in range(i + 1, 20)]
    pairs = [(f"p{i}a", f"p{i}b") for i in range(10)]
    edges = clique + pairs
    calls = {"sym": 0, "driver": []}
    sym, drv = components._sym_dedup_by_u, components._driver_labels

    def count_sym(*a, **kw):
        calls["sym"] += 1
        return sym(*a, **kw)

    def record_driver(spark_, t, dtype, names):
        calls["driver"].append(names)
        return drv(spark_, t, dtype, names)

    monkeypatch.setattr(components, "_sym_dedup_by_u", count_sym)
    monkeypatch.setattr(components, "_driver_labels", record_driver)
    with _broadcast_threshold(spark, "1000"):
        comp = _run(spark, edges)
    assert calls["sym"] >= 3  # initial symmetrize + at least one round
    assert calls["driver"] == [("u", "c")]  # finished mid-loop
    assert comp == _ref_labels(edges)


def test_driver_path_leaves_constraint_conf_unchanged(spark, monkeypatch):
    """Only the loop flips spark.sql.constraintPropagation.enabled; the
    driver path must not write it at all."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.constraintPropagation.enabled"
    writes = []
    orig_set = RuntimeConfig.set

    def spy(self, k, v):
        if k == key:
            writes.append(v)
        return orig_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    _run(spark, edges)
    assert writes == []
    _run_loop(spark, edges)
    assert writes == ["false", "true"]
