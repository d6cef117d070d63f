"""Connected components over an edge DataFrame.

Used by the canonicalize stage (similarity/redirect edges -> canonical
cluster id per entity) and the near-dup clustering queries. Output
(node, component), both in the common type of the two endpoint columns;
component = the smallest node of the cluster in Spark's order (numeric for
integers, UTF-8 byte order for strings). A node whose every edge is a
self-loop gets no row, and an edge with a null endpoint links nothing;
callers coalesce absent nodes to themselves.

Both paths run on the nodes themselves — the algorithm only needs a total
order, so no id table or name join-back exists — and ONE adaptive gate on
the session's broadcast byte budget (``spark.sql.autoBroadcastJoinThreshold``,
read by ``session.broadcast_budget``) chooses between them:

  * driver finish — when the active edge set fits the budget, it is pulled
    with toArrow from a pinned checkpoint and labelled on the driver by a
    numpy union-find (min-hooking + pointer jumping); the labels return
    through an Arrow ``createDataFrame``. The gate has one measure, the
    Arrow bytes of the edges summed by an Observation on a localCheckpoint
    (``_row_bytes``): at entry that checkpoint pins the input edges, after
    every loop round it is the round's own checkpoint. An input above the
    budget is therefore never computed twice — its pinned checkpoint feeds
    the loop — and a graph of a few hundred edges costs two small jobs
    instead of a checkpoint job plus exchanges per round.
  * the large-star/small-star loop (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14; Catalyst has no iterative operator,
    SURVEY.md §4) for edge sets above the budget:
      - no global-ordering window — nothing funnels to one task;
      - explicit ``repartition(spark.sql.shuffle.partitions, 'u')`` before
        the loop (north rule);
      - ``localCheckpoint`` each round truncates lineage so round N's plan
        does not replay rounds 1..N-1;
      - convergence = no edge changed; bounded O(log n) rounds
        (``MAX_ITER`` caps them);
      - hot hubs (a node with millions of neighbors) are exactly the
        large-star case — their edges route to the minimum neighbor instead
        of repeatedly funnelling through one reducer.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from ..session import FIXED_WIDTH, broadcast_budget

_obs_seq = itertools.count()

# Loop round cap: O(log n) rounds converge any graph this engine meets.
MAX_ITER = 50


def _sym_dedup_by_u(edges: DataFrame, num_partitions: int) -> DataFrame:
    """Both directions of every non-self-loop edge, deduplicated:
    repartition by u first, dedup (u, v) second. hash(u) partitioning
    satisfies the dedup aggregate's (u, v) clustering requirement AND every
    groupBy('u')/join-on-u the loop does next, so each symmetrize costs one
    exchange instead of a (u, v) distinct's exchange plus a repartition."""
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return (
        edges.unionByName(rev)
        .filter(F.col("u") != F.col("v"))
        .repartition(num_partitions, "u")
        .dropDuplicates(["u", "v"])
    )


# ---------------------------------------------------------------------------
# driver finish


def _row_bytes(schema: StructType) -> Column:
    """Arrow bytes of one row: a fixed-width value takes its width, any
    other value 4 offset bytes plus the length of its string form."""
    total = F.lit(0)
    for f in schema:
        w = FIXED_WIDTH.get(f.dataType.typeName())
        if w is None:
            n = F.octet_length(F.col(f.name).cast("string"))
            total = total + 4 + F.coalesce(n, F.lit(0))
        else:
            total = total + w
    return total


def _checkpoint_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """localCheckpoint df and return it with the named aggregate metrics,
    which are an Observation on the checkpointed plan: they come from the
    checkpoint's own job, at no extra Spark job."""
    obs = Observation(f"cc_obs_{next(_obs_seq)}")
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()]).localCheckpoint()
    return out, obs.get


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Union-find over n dense ids and edges (a, b): -> root[i] = the
    smallest id in i's component. Each pass hooks every root onto the
    smallest root adjacent to it (min-hooking), then pointer-jumps until
    every id points straight at its root; edges whose ends already share a
    root drop out. root[i] <= i always holds, so no cycle can form."""
    root = np.arange(n)
    while True:
        ra, rb = root[a], root[b]
        live = ra != rb
        if not live.any():
            return root
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(root, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            nxt = root[root]
            if np.array_equal(nxt, root):
                break
            root = nxt


def _driver_labels(
    spark: SparkSession, t: pa.Table, dtype: DataType, names: tuple[str, str]
) -> DataFrame:
    """Label the collected (u, v) edge table on the driver -> DataFrame
    names = (node col, label col), both typed dtype: one row per endpoint
    of a non-self-loop edge, label = the smallest node of its component. An
    edge with a null endpoint links nothing.

    The names are factorized to dense ids in Arrow's sort order (a
    dictionary encode plus a sort of the distinct names — 10x faster than
    ``np.unique`` on object strings), so the smallest id is the smallest
    name: numeric order for integers, UTF-8 byte order for strings — the
    orders Spark compares in."""
    u, v = t.column(0), t.column(1)
    link = pc.fill_null(pc.not_equal(u, v), False)
    a, b = pc.filter(u, link), pc.filter(v, link)
    m = len(a)
    flat = pa.chunked_array(
        a.chunks + b.chunks, type=t.schema.field(0).type
    ).combine_chunks()
    enc = pc.dictionary_encode(flat)
    order = pc.array_sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    idx = rank[enc.indices.to_numpy()]
    node_col = enc.dictionary.take(pa.array(order))
    root = _min_roots(len(node_col), idx[:m], idx[m:])
    label_col = node_col.take(pa.array(root))
    schema = StructType([StructField(names[0], dtype), StructField(names[1], dtype)])
    return spark.createDataFrame(
        pa.table({names[0]: node_col, names[1]: label_col}), schema=schema
    )


# ---------------------------------------------------------------------------
# large-star/small-star loop


def _cc_loop(e: DataFrame, freeze_stars: bool, budget: int) -> DataFrame:
    """Large-star/small-star fixpoint over (u, v) edges of ANY ordered
    type (longs or strings — the algorithm only needs a total order).
    -> (u, c): one row per node appearing in the symmetric graph,
    c = minimum node of its component; self-loop-only nodes are absent.
    Finishes on the driver as soon as a round's edge set fits ``budget``
    bytes.

    Constraint propagation is disabled while the loop builds its
    checkpoints (restored on exit): ``localCheckpoint`` captures the source
    plan's constraint set into the LogicalRDD, and the loop's self-joins
    leave constraints referencing pre-dedup attribute ids — the final
    ``union`` over frozen parts then crashes Catalyst
    (``UnionBase.rewriteConstraints: key not found: u#…``). With the conf
    off at CAPTURE time the checkpoints store no origin constraints, so
    downstream plans (re-)analyze cleanly with the conf back on. The loop
    loses only inferred IsNotNull pushdowns on its own internal joins,
    whose keys are never null by construction."""
    spark = e.sparkSession
    _CONF = "spark.sql.constraintPropagation.enabled"
    conf_prev = spark.conf.get(_CONF, "true")
    spark.conf.set(_CONF, "false")
    try:
        return _cc_loop_inner(e, freeze_stars, budget)
    finally:
        spark.conf.set(_CONF, conf_prev)


def _checkpoint_blocks(df: DataFrame):
    """Best-effort handle on a localCheckpoint'd DataFrame's pinned RDD (the
    LogicalRDD leaf), so the loop can unpersist round N-1's blocks once
    round N is materialized instead of waiting for driver GC — the
    'eager checkpoint pinning' memory-pressure term at 32M-quad scale.
    Returns None (skip hygiene, never crash) if the plan shape differs."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            return plan.rdd()
    except Exception:  # noqa: BLE001 - hygiene only, never fail the query
        pass
    return None


def _unpersist_blocks(handle) -> None:
    if handle is not None:
        try:
            handle.unpersist(False)
        except Exception:  # noqa: BLE001
            pass


def _cc_loop_inner(e: DataFrame, freeze_stars: bool, budget: int) -> DataFrame:
    row_bytes = _row_bytes(e.schema)
    num_partitions = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def _checkpoint_with_sig(df):
        """Materialize one round AND collect its edge-set signature and
        byte size in the SAME job: they are an Observation on the
        checkpointed plan, so convergence and the driver-finish gate cost
        zero extra Spark jobs per round. bit_xor is overflow-free under
        ANSI mode and edges are distinct (no xor cancellation), so (xor of
        xxhash64, count) identifies the edge set order-insensitively."""
        out, m = _checkpoint_observed(
            df,
            s=F.bit_xor(F.xxhash64("u", "v")),
            n=F.count(F.lit(1)),
            b=F.sum(row_bytes),
        )
        return out, (m["s"], m["n"]), m["b"] or 0

    g, sig_old, g_bytes = _checkpoint_with_sig(_sym_dedup_by_u(e, num_partitions))
    g_blocks = _checkpoint_blocks(g)
    frozen_parts: list[DataFrame] = []
    labels = None
    for _ in range(MAX_ITER):
        if sig_old[1] == 0:
            break  # no active edges left — everything frozen or isolated
        # driver finish: g is symmetric, so its u < v half carries every
        # edge once, in half of the observed bytes — pulling it is one job
        # over the pinned checkpoint
        if g_bytes // 2 <= budget:
            half = g.filter(F.col("u") < F.col("v")).toArrow()
            labels = _driver_labels(
                e.sparkSession, half, g.schema["u"].dataType, ("u", "c")
            )
            break
        # per-node neighborhood min + degree: feeds BOTH the freeze test
        # and large-star's m = min(N(u) ∪ {u})
        stats = g.groupBy("u").agg(
            F.min("v").alias("mn"), F.count(F.lit(1)).alias("deg")
        )
        # The freeze test costs ~4 extra small shuffles, an anti-join and
        # one eager-checkpoint job per round; it pays on the large
        # frontiers that reach this point (tools/freeze_probe.py: −40% wall
        # at 3.6M and at 20.8M mixed edges) — small ones finish on the
        # driver above. With the budget disabled (-1) small frontiers run
        # it too, at a cost (150k-edge star graph: ~+25–40% wall).
        if freeze_stars:
            leaves = stats.filter(
                (F.col("deg") == 1) & (F.col("mn") < F.col("u"))
            ).select("u", F.col("mn").alias("root"))
            roots = stats.filter(F.col("mn") > F.col("u")).select(
                F.col("u").alias("root"), F.col("deg").alias("rdeg")
            )
            # a leaf's single edge lands on a satisfied root; the component
            # is finished iff ALL rdeg neighbors of that root are such
            # leaves (then {root} ∪ N(root) has no edge leaving it)
            cand = leaves.join(roots, "root")
            done = (
                cand.groupBy("root", "rdeg")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") == F.col("rdeg"))
                .select("root")
            )
            frozen = (
                cand.join(done, "root")
                .select("u", F.col("root").alias("c"))
                .unionByName(
                    done.select(
                        F.col("root").alias("u"), F.col("root").alias("c")
                    )
                )
            )
            # EAGER localCheckpoint: the frozen part must become a stable
            # LogicalRDD leaf before the final union over frozen_parts —
            # lazy checkpoints (eager=False) keep the original plan with
            # attribute ids that UnionBase.rewriteConstraints can no longer
            # resolve once constraint propagation rewrites the union
            # (Catalyst `key not found: u#…`). The cost is one small job
            # per freezing round (the part is the just-finished components
            # only), and the anti-join below then consumes the pinned RDD
            # instead of replaying the freeze joins.
            frozen = frozen.localCheckpoint()
            frozen_parts.append(frozen)
            # self-contained ⇒ dropping rows whose u is frozen removes both
            # directions of every frozen edge
            g = g.join(frozen.select("u"), "u", "left_anti")
        # large-star: connect every neighbor v>u to m = min(N(u) ∪ {u}).
        # stats comes from pre-freeze g, but frozen components are
        # self-contained, so no surviving node's neighborhood changed.
        nbr_min = stats.select("u", F.least("mn", F.col("u")).alias("m"))
        large = (
            g.filter(F.col("v") > F.col("u"))
            .join(nbr_min, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        keep = g.filter(F.col("v") < F.col("u"))
        # symmetrize via repartition-by-u FIRST, then dropDuplicates:
        # HashPartitioning(u) satisfies the (u, v) clustering the dedup
        # aggregate requires, so the dedup runs in-place on the u-partitioned
        # data and the following groupBy('u') reuses the same partitioning —
        # one exchange per symmetrize instead of two (guide §2.4: two
        # operations keyed the same way share one exchange).
        g2 = _sym_dedup_by_u(large.unionByName(keep), num_partitions)

        # small-star: connect all smaller neighbors (and u) to the minimum
        halves = g2.filter(F.col("v") < F.col("u"))
        smin = halves.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            halves.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select(F.col("u"), F.col("m").alias("v")))
        )
        # one job per round: checkpoint + fused signature observation
        g_new, sig_new, g_bytes = _checkpoint_with_sig(
            _sym_dedup_by_u(small, num_partitions)
        )
        # round N materialized -> round N-1's pinned blocks are dead; free
        # them deterministically instead of waiting for driver GC
        new_blocks = _checkpoint_blocks(g_new)
        _unpersist_blocks(g_blocks)
        g, g_blocks = g_new, new_blocks
        if sig_new == sig_old:
            break
        sig_old = sig_new

    if labels is None:
        # After convergence the residual graph is a union of stars:
        # label = min(u, N(u)).
        labels = (
            g.groupBy("u")
            .agg(F.min("v").alias("c"))
            .select("u", F.least("u", "c").alias("c"))
        )
    elif not frozen_parts:
        _unpersist_blocks(g_blocks)
        return labels
    # frozen components carry their root label
    for fp in frozen_parts:
        labels = labels.unionByName(fp)
    # Materialize the final labels ONCE (they are |nodes| rows — compact),
    # then free the residual graph and every frozen part: storage memory is
    # now bounded by the label table instead of growing with loop rounds
    # (localCheckpoint lineage is truncated, so blocks must outlive every
    # consumer — the compact label checkpoint is that single consumer).
    labels = labels.localCheckpoint()
    _unpersist_blocks(g_blocks)
    for fp in frozen_parts:
        _unpersist_blocks(_checkpoint_blocks(fp))
    return labels


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    freeze_stars: bool = True,
) -> DataFrame:
    """-> (node, component) under the module's output contract: component
    = the smallest node of the cluster, so the output is deterministic;
    self-loop-only nodes get no row; an edge with a null endpoint links
    nothing. Both columns keep the endpoints' common type.

    The driver-finish gate's budget is the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (-1 or 0 = never). Under a
    positive budget the (u, v) edges are first pinned by ONE localCheckpoint
    whose observation sums their Arrow bytes. If they fit, the checkpoint is
    pulled with toArrow and labelled by a numpy union-find on the driver —
    no loop, no conf change. Otherwise the checkpoint is the loop's input,
    so nothing upstream of ``edges`` is computed twice; the loop re-checks
    the gate after every round from the round's observed edge bytes, so a
    large graph still finishes on the driver once its frontier has shrunk
    into the budget. Both paths give identical labels. The loop shuffles
    into ``spark.sql.shuffle.partitions`` partitions.

    Session-wide side effect of the LOOP only: while it runs,
    ``spark.sql.constraintPropagation.enabled`` is disabled on the SHARED
    session conf (restored on exit) — required so localCheckpoint captures
    no origin constraints (see _cc_loop). A concurrent query on the same
    SparkSession during that window runs without constraint propagation
    (losing some inferred IsNotNull pushdowns, never correctness).

    freeze_stars (default on; tools/freeze_probe.py measures −40% wall at
    3.6M and at 20.8M mixed edges, identical labels) is per-round frontier
    reduction inside the loop: a component is provably finished when it
    is already a star rooted at its minimum: root r has only larger
    neighbors, and every neighbor is a degree-1 leaf whose single edge
    points at r. Such a component is self-contained (no node in it has an
    edge outside), so its labels are final — emit them now and drop its
    edges, and later rounds shuffle only the still-converging frontier. On
    similarity graphs (near-dup clusters: mostly 2-5 node components, a few
    long chains) the frontier collapses after round one while the stock
    loop keeps re-shuffling the whole edge set every round. The freeze test
    piggybacks on the aggregation large-star already needs (min + count per
    node), so a round costs one extra small join, not an extra pass over
    the edges."""
    spark = edges.sparkSession
    budget = broadcast_budget(spark)
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    node_type = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).schema[0].dataType
    )
    e = e.select(F.col("u").cast(node_type), F.col("v").cast(node_type))
    pinned = None
    if budget:
        e, m = _checkpoint_observed(e, b=F.sum(_row_bytes(e.schema)))
        pinned = _checkpoint_blocks(e)
        if (m["b"] or 0) <= budget:
            labels = _driver_labels(
                spark, e.toArrow(), node_type, ("node", "component")
            )
            _unpersist_blocks(pinned)
            return labels
    # the loop's labels are its own checkpoint (or driver-built), so the
    # pinned input is dead once it returns
    labels = _cc_loop(e, freeze_stars, budget)
    _unpersist_blocks(pinned)
    return labels.select(F.col("u").alias("node"), F.col("c").alias("component"))
