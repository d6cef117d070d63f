"""Negative sampling for scorer training (M4/M5, predict.py:92-121).

The reference corrupts each positive triple's object (for Tsp) or subject
(for Top) with random entities, rejects corruptions that exist in the KB
(J13 anti-join), and downsamples negatives to |positives|. The reference
uses a global RNG (order-dependent, predict.py:106-119); the rebuild makes
corruption DETERMINISTIC — replacement index = stable_hash32(s,p,o,attempt)
mod |entity pool| against a dictionary-encoded entity table — so tests and
the DuckDB oracle reproduce the sample bit-for-bit and reruns are stable
across cluster sizes (FIXTURES.md §7 determinism contract).

Dictionary encoding (S10, predict_embedding.py:43-83) is the id-assignment
primitive: distinct -> row_number over a deterministic order - 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import stable_hash32
from ..session import broadcast_budget, estimated_row_bytes


def dictionary_encode(
    df: DataFrame,
    col: str,
    id_col: str = "id",
    num_partitions: int | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """-> (col, id) dense ids 0..n-1 ordered by value (deterministic).

    Scale-safe: bucket the distinct values by VALUE-DERIVED range
    boundaries, rank WITHIN each bucket (parallel window — every bucket is
    its own window group), then add the cumulative bucket offsets (a tiny
    #buckets-row window + broadcast join). No global-ordering window —
    nothing funnels through one task except the #buckets-row offsets
    roll-up, so a billion-row entity vocabulary encodes at full
    parallelism.

    Bucket-id determinism is the load-bearing property: the rank branch
    and the offsets branch are separate traversals, and nothing guarantees
    Spark materializes their shared subtree once (exchange reuse is a
    best-effort physical optimization — AQE stage planning, column-pruning
    changes, or spark.sql.exchange.reuse=false all break it). An earlier
    form bucketed with repartitionByRange + spark_partition_id(), whose
    sampler reseeds per traversal — correct only WHILE the exchange
    happened to be reused. Now the bucket id is a pure function of the
    value: boundaries come from a deterministic hash-condition sample
    (pmod(xxhash64(v), p) = 0 — stable across runs, partition layouts and
    cluster sizes), are embedded in the plan as literals, and both
    branches compute identical bucket ids even if recomputed
    independently. Ids are value-ordered and dense wherever the
    boundaries land.

    approx_rows: vocabulary-size hint used only to pick the sample rate;
    pass it from table metadata (Iceberg manifest row counts) to skip the
    sizing pass, same pattern as kge_entity_rows threading. Boundary
    sampling costs one small collect (~64·n values).
    """
    spark = df.sparkSession
    d = df.select(col).distinct()
    n = num_partitions or spark.sparkContext.defaultParallelism
    bounds: list = []
    if n > 1:
        m = approx_rows if approx_rows is not None else d.count()
        p = max(1, m // (n * 64))
        # defensive cap: an undersized approx_rows hint (stale table
        # metadata) drives p toward 1 and would otherwise collect the
        # whole distinct vocabulary to the driver. limit() bounds the
        # collect at ~4x the target sample size; truncation only skews
        # bucket SIZES, never id correctness — final ids are value-ordered
        # dense for ANY contiguous-range boundary set. NULLs are excluded
        # (sorted() cannot compare None; the bucket expression routes any
        # NULL value to bucket 0 deterministically).
        sample = sorted(
            r[0]
            for r in d.filter(
                F.col(col).isNotNull()
                & (F.pmod(F.xxhash64(col), F.lit(p)) == 0)
            )
            .limit(n * 256)
            .collect()
        )
        step = max(1, len(sample) // n)
        bounds = sample[step::step][: n - 1]
    if bounds:
        # plain chained whens, NOT an F.aggregate lambda: a higher-order
        # function capturing the outer column by name miscompiles when the
        # encode input shares lineage with another branch of the caller's
        # plan (self-join attribute dedup leaves the lambda's outer
        # reference pointing at a pruned attribute —
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at bind time). The sum form
        # is also whole-stage-codegen-friendly: no array materialization.
        pid = sum(
            (F.when(F.col(col) > b, 1).otherwise(0) for b in bounds),
            start=F.lit(0),
        )
    else:
        pid = F.lit(0)
    bucketed = d.withColumn("__pid", pid)
    local = bucketed.withColumn(
        "__local",
        F.row_number().over(Window.partitionBy("__pid").orderBy(col)),
    )
    counts = bucketed.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # running-sum window over #buckets rows — single-task by design, tiny
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .select(col, (F.col("__off") + F.col("__local") - 1).cast("bigint").alias(id_col))
    )


def negative_samples(
    triples: DataFrame,
    entity_pool: DataFrame,
    attempts: int = 5,
    corrupt: str = "o",
) -> DataFrame:
    """-> (s, p, o, attempt) corrupted triples NOT present in the KB.

    entity_pool: one column 'entity'. Each positive spawns `attempts`
    deterministic corruption candidates; existing triples are rejected with
    a left_anti join (J13). Downsampling to |pos| is the caller's
    ``.limit``/``row_number`` choice.

    The pool join is broadcast ONLY when the pool's rows at Spark's per-row
    size estimate fit the session's broadcast byte budget (the same gate as
    the entity-vector join in stages/score.py): the pool is the full entity
    vocabulary, which grows with the corpus — at 100 TB it is hundreds of
    millions of rows and an unconditional broadcast is the classic
    serial-build / ship-everywhere failure. Above the budget the join
    shuffles on ``eid``, a uniform dense-id key, at full parallelism.

    The distinct pool is counted once and that count is threaded into
    dictionary_encode's approx_rows, so the pool lineage is not counted
    again for the sizing or for n_pool.
    """
    distinct_pool = entity_pool.select(F.col("entity")).distinct()
    n_pool = distinct_pool.count()
    pool = dictionary_encode(
        distinct_pool, "entity", "eid", approx_rows=n_pool
    )

    att = triples.sparkSession.range(attempts).select(
        F.col("id").cast("int").alias("attempt")
    )
    cand = triples.crossJoin(F.broadcast(att)).withColumn(
        "eid",
        stable_hash32(
            F.concat_ws("\x01", "s", "p", "o", F.col("attempt").cast("string"))
        )
        % n_pool,
    )
    budget = broadcast_budget(triples.sparkSession)
    fits = budget and n_pool * estimated_row_bytes(pool.schema) <= budget
    pool_side = F.broadcast(pool) if fits else pool
    corrupted = cand.join(pool_side, "eid").drop("eid")
    if corrupt == "o":
        corrupted = corrupted.select(
            "s", "p", F.col("entity").alias("o"), "attempt"
        )
    else:
        corrupted = corrupted.select(
            F.col("entity").alias("s"), "p", "o", "attempt"
        )
    # J13: corruption must not be a real triple; also drop no-op corruptions
    return corrupted.join(
        triples.select("s", "p", "o"), ["s", "p", "o"], "left_anti"
    )


def particular_samples(
    assertions: DataFrame,
    candidates: DataFrame,
    kb_triples: DataFrame,
    entity_class: DataFrame,
    entity_label: DataFrame,
    class_pool: DataFrame,
    alpha: int = 10,
    entity_mask: DataFrame | None = None,
) -> DataFrame:
    """M6 (samples.py:54-99): POS/NEG labeled triples per (predicate, class).

    Candidate entities per property come from two lanes —
      lane 1: entities matching the assertions' literals (l_entities),
      lane 2: object-entities of the property in the KB (p_e_subs) with
              their original subjects —
    minus the entity mask. For each candidate class c of p: a sample
    [s, p, e_label] is POS when c in classes(e), NEG when e is typed but
    c not among its classes (untyped entities join out). A (p, c) group
    is kept only when |POS| >= alpha.

    -> (predicate, class, subject, literal, is_pos), duplicates preserved
    (the reference appends per lane x label). One shuffle per lane join;
    the class pool fans out as a broadcast-sized dimension. The α gate is
    a window count over (predicate, class) — the samples lineage (two-lane
    union + three joins) materializes ONCE, instead of the aggregate +
    semi-join form that recomputes it end to end.
    """
    from ..functions.text import normalize_text

    a = assertions.withColumn("literal_norm", normalize_text("literal"))
    lane1 = a.join(
        candidates.select("literal_norm", "entity"), "literal_norm"
    ).select("subject", "predicate", "entity")
    preds = assertions.select("predicate").distinct()
    lane2 = (
        kb_triples.select(
            F.col("s").alias("subject"),
            F.col("p").alias("predicate"),
            F.col("o").alias("entity"),
        )
        .join(F.broadcast(preds), "predicate", "left_semi")
    )
    pairs = lane1.unionByName(lane2)
    if entity_mask is not None:
        pairs = pairs.join(entity_mask.select("entity"), "entity", "left_anti")

    ecls = entity_class.groupBy("entity").agg(
        F.collect_set("class").alias("__classes")
    )
    samples = (
        pairs.join(ecls, "entity")  # inner: untyped entities sample nothing
        .join(F.broadcast(class_pool.select("predicate", "class")), "predicate")
        .withColumn("is_pos", F.array_contains("__classes", F.col("class")))
        .join(entity_label.select("entity", "label"), "entity")
        .select(
            "predicate", "class", "subject",
            F.col("label").alias("literal"), "is_pos",
        )
    )
    npos = F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).over(
        Window.partitionBy("predicate", "class")
    )
    return (
        samples.withColumn("__npos", npos)
        .filter(F.col("__npos") >= alpha)
        .drop("__npos")
    )


def class_disjoint_pool(
    entity_class: DataFrame, class_joint: DataFrame, target_class: str
) -> DataFrame:
    """M5 (pretrain.py:60-73): negative-sampling pool for a class c =
    entities whose classes are all disjoint from c (anti-join against the
    joint-class table). class_joint: (class, joint_class)."""
    joint = (
        class_joint.filter(F.col("class") == target_class)
        .select(F.col("joint_class").alias("class"))
        .unionByName(
            class_joint.sparkSession.createDataFrame(
                [(target_class,)], "class string"
            )
        )
    )
    bad_entities = entity_class.join(
        F.broadcast(joint), "class", "left_semi"
    ).select("entity")
    return (
        entity_class.select("entity")
        .distinct()
        .join(bad_entities, "entity", "left_anti")
    )
