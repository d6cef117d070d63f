"""queries()/oracle_sql() registry — the driver's correctness gate.

One entry per implemented operator family from SURVEY.md §2 plus the
training-data-pipeline operators (dedup / similarity / text analysis),
each expressed twice: as the engine's Spark implementation and as ANSI SQL
for the DuckDB oracle. Column names and float rounding match exactly on
both sides (driver hashes values after sorting columns by name).

Convention: every float column is rounded (r6/r4) on BOTH sides so
double-vs-float evaluation-order noise cannot flip the value hash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .functions import text as T
from .operators.topk import topk_per_group

QUERIES: dict = {}
ORACLES: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


_PINNED: dict = {}


def _pin_checkpoint(key: str, df: DataFrame) -> DataFrame:
    """localCheckpoint ``df`` and unpersist the PREVIOUS checkpoint taken
    under the same key. Query functions are re-invoked from scratch per
    bench repeat; without this, every repeat pins another full copy of the
    checkpointed intermediate until driver GC happens to collect the old
    RDD reference — measured as run-over-run slowdown (ngram_jaccard rep0
    25 s -> rep1 31 s) from storage-memory pressure. Each invocation still
    computes entirely from the parquet inputs; only the DROPPED previous
    run's blocks are freed (guide §5: unpersist when done)."""
    from .operators.components import _checkpoint_blocks, _unpersist_blocks

    ck = df.localCheckpoint()
    old = _PINNED.get(key)
    if old is not None:
        _unpersist_blocks(old)
    _PINNED[key] = _checkpoint_blocks(ck)
    return ck


# =========================================================================
# §2.2 Projections / filters / predicates
# =========================================================================

@q(
    "distinct_project",  # P1: cache.py:63/93 distinct-column projection
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_project(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@q(
    "prefix_filter",  # P2: namespace startswith predicate (util_kb.py:86)
    "SELECT p_partkey, p_name, p_type FROM part "
    "WHERE p_type LIKE 'ECO%' AND p_name NOT LIKE 'small%'",
)
def prefix_filter(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").startswith("ECO") & ~F.col("p_name").startswith("small")
    ).select("p_partkey", "p_name", "p_type")


@q(
    "semi_join_membership",  # P4: membership semi-join (subKB.py:82-87)
    "SELECT p_partkey, p_name FROM part "
    "WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)",
)
def semi_join_membership(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return part.join(
        li, part.p_partkey == li.l_partkey, "left_semi"
    ).select("p_partkey", "p_name")


@q(
    "anti_join_mask",  # P5: GT-removal anti-join (predict.py:79-84)
    "SELECT c_custkey, c_name FROM customer "
    "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
)
def anti_join_mask(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@q(
    "uri_localname_project",  # P8: URI -> local-name (util_kb.py:69-78)
    "SELECT DISTINCT "
    "  regexp_extract(url, '([^/#]*)$', 1) AS localname, "
    "  lower(replace(regexp_extract(url, '([^/#]*)$', 1), '_', ' ')) AS label "
    "FROM (SELECT 'http://ex.org/resource/' || replace(p_name, ' ', '_') AS url FROM part)",
)
def uri_localname_project(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        F.concat(
            F.lit("http://ex.org/resource/"), F.regexp_replace("p_name", " ", "_")
        ).alias("url")
    )
    return p.select(
        T.uri_localname("url").alias("localname"),
        F.lower(F.regexp_replace(T.uri_localname("url"), "_", " ")).alias("label"),
    ).distinct()


@q(
    "lexical_match",  # P9: literal<->localname equality (evaluate.py:143-147)
    "SELECT d.doc_id, d.source FROM documents d "
    "WHERE lower(trim(d.source)) = lower(replace('src_' || (d.doc_id % 20), '_', ' ')) "
    "   OR lower(trim(d.source)) = lower(replace('src' || (d.doc_id % 20), '_', ' '))",
)
def lexical_match(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    uri1 = F.concat(F.lit("http://x/src_"), F.col("doc_id") % 20)
    uri2 = F.concat(F.lit("http://x/src"), F.col("doc_id") % 20)
    return d.filter(
        T.lexical_match(F.col("source"), uri1) | T.lexical_match(F.col("source"), uri2)
    ).select("doc_id", "source")


# =========================================================================
# §2.5 Window / top-k
# =========================================================================

@q(
    "topk_per_group",  # W1: top-k by score per triple (predict.py:200-203)
    "SELECT l_orderkey, l_linenumber, l_extendedprice, rank FROM ("
    "  SELECT l_orderkey, l_linenumber, l_extendedprice, "
    "         row_number() OVER (PARTITION BY l_orderkey "
    "             ORDER BY l_extendedprice DESC, l_linenumber) AS rank "
    "  FROM lineitem) WHERE rank <= 2",
)
def topk_query(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return topk_per_group(
        li, ["l_orderkey"], [F.desc("l_extendedprice"), F.asc("l_linenumber")], 2
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "rank")


@q(
    "dictionary_encode",  # S10: dense-id assignment (predict_embedding.py:43-83)
    "SELECT o_orderpriority, "
    "       row_number() OVER (ORDER BY o_orderpriority) - 1 AS id "
    "FROM (SELECT DISTINCT o_orderpriority FROM orders)",
)
def dictionary_encode(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    w = Window.orderBy("o_orderpriority")
    return o.select(
        "o_orderpriority", (F.row_number().over(w) - 1).alias("id")
    )


# =========================================================================
# §2.4 Aggregations
# =========================================================================

@q(
    "cardinality_histogram",  # A2: constraint_mining.py:41-69
    "WITH per_subj AS ("
    "  SELECT o_orderpriority AS p, o_custkey AS s, count(*) AS n "
    "  FROM orders GROUP BY 1, 2) "
    "SELECT p, n, round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY p), 6) AS rate, "
    "       max(max(n)) OVER (PARTITION BY p) AS max_n "
    "FROM per_subj GROUP BY p, n",
)
def cardinality_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    per_subj = o.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_custkey").alias("s")
    ).agg(F.count(F.lit(1)).alias("n"))
    dist = per_subj.groupBy("p", "n").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("p")
    return dist.select(
        "p",
        "n",
        F.round(F.col("freq") / F.sum("freq").over(w), 6).alias("rate"),
        F.max("n").over(w).alias("max_n"),
    )


@q(
    "range_histogram",  # A3: per-key class-rate distribution (constraint_mining.py:71-119)
    "WITH oc AS (SELECT DISTINCT l_returnflag AS p, l_partkey AS e FROM lineitem), "
    "cls AS (SELECT oc.p, oc.e, pt.p_type AS class FROM oc "
    "        JOIN part pt ON pt.p_partkey = oc.e) "
    "SELECT p, class, round(count(DISTINCT e) * 1.0 / "
    "       max(tot), 6) AS rate FROM ("
    "  SELECT p, class, e, count(DISTINCT e) OVER (PARTITION BY p) AS tot FROM cls) "
    "GROUP BY p, class",
)
def range_histogram(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    oc = (
        li.select(F.col("l_returnflag").alias("p"), F.col("l_partkey").alias("e"))
        .distinct()
        .join(part.select(F.col("p_partkey").alias("e"), F.col("p_type").alias("class")), "e")
    )
    # oc is distinct (p, e) joined to the part PK, so (p, e) stays unique
    # and count(*) == count(DISTINCT e) — dropping both countDistincts
    # removes their Expand + second shuffle (the two aggs then also share
    # oc's exchange via reuse)
    totals = oc.groupBy("p").agg(F.count(F.lit(1)).alias("tot"))
    counts = oc.groupBy("p", "class").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.join(totals, "p").select(
        "p", "class", F.round(F.col("cnt") / F.col("tot"), 6).alias("rate")
    )


@q(
    "noisy_or",  # A4: 1 - prod(1-p) (validate_constraint.py:136-152)
    "SELECT l_orderkey, round(1.0 - exp(sum(ln(1.0 - l_discount))) + 1e-9, 6) AS noisy_or "
    "FROM lineitem GROUP BY l_orderkey",
)
def noisy_or_query(spark, sf_dir):
    from .functions.scoring import noisy_or

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.round(noisy_or(F.col("l_discount")) + 1e-9, 6).alias("noisy_or")
    )


@q(
    "range_score_fallback",  # A4 incl. classless mean fallback
    # Full range_score semantics through the REAL stage code: noisy-or of
    # matched con rates; 0 when the entity has classes but none match;
    # mean(p's rates) when the entity is CLASSLESS and p has a constraint
    # (validate_constraint.py:137-140). Customers play entities (1/3 made
    # classless via custkey % 3), nations play classes, mktsegments play
    # predicates; nations with key >= 12 get no constraint -> no-match path.
    "WITH cn AS (SELECT c_name, c_custkey, c_mktsegment, n_name, n_nationkey "
    "            FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "rng AS (SELECT c_mktsegment AS p, n_name AS class, cnt * 1.0 / tot AS rate "
    "        FROM (SELECT c_mktsegment, n_name, count(*) AS cnt FROM cn "
    "              WHERE n_nationkey < 12 GROUP BY 1, 2) "
    "        JOIN (SELECT c_mktsegment, count(*) AS tot FROM cn GROUP BY 1) "
    "        USING (c_mktsegment)), "
    "pmean AS (SELECT p, avg(rate) AS mean_rate FROM rng GROUP BY p), "
    "ec AS (SELECT c_name AS entity, n_name AS class FROM cn WHERE c_custkey % 3 <> 0), "
    "scored AS (SELECT c_mktsegment AS predicate, c_name AS entity FROM customer), "
    "matched AS (SELECT s.predicate, s.entity, "
    "                   1 - exp(sum(ln(1 - least(r.rate, 1 - 1e-12)))) AS nor "
    "            FROM scored s JOIN ec ON ec.entity = s.entity "
    "            JOIN rng r ON r.p = s.predicate AND r.class = ec.class "
    "            GROUP BY 1, 2) "
    "SELECT s.predicate, s.entity, "
    "       round(CASE WHEN m.nor IS NOT NULL THEN m.nor "
    "                  WHEN hc.entity IS NULL AND pm.mean_rate IS NOT NULL THEN pm.mean_rate "
    "                  ELSE 0.0 END + 1e-9, 6) AS range_score "
    "FROM scored s "
    "LEFT JOIN (SELECT DISTINCT entity FROM ec) hc ON hc.entity = s.entity "
    "LEFT JOIN matched m ON m.predicate = s.predicate AND m.entity = s.entity "
    "LEFT JOIN pmean pm ON pm.p = s.predicate",
)
def range_score_fallback_query(spark, sf_dir):
    from .stages.constraints import range_score

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cn = c.join(n, c.c_nationkey == n.n_nationkey)
    scored = c.select(
        F.col("c_name").alias("subject"),
        F.col("c_mktsegment").alias("predicate"),
        F.lit("x").alias("literal"),
        F.col("c_name").alias("entity"),
        F.lit(0.0).alias("model_score"),
    )
    ec = cn.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_name").alias("entity"), F.col("n_name").alias("class")
    )
    seg_tot = cn.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("tot"))
    rng = (
        cn.filter(F.col("n_nationkey") < 12)
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(seg_tot, "c_mktsegment")
        .select(
            F.col("c_mktsegment").alias("p"),
            F.lit("con").alias("kind"),
            F.col("n_name").alias("class"),
            (F.col("cnt") / F.col("tot")).alias("rate"),
        )
    )
    out = range_score(scored, rng, ec)
    return out.select(
        "predicate",
        "entity",
        F.round(F.col("range_score") + 1e-9, 6).alias("range_score"),
    )


@q(
    "score_merge",  # J8: join two score tables, missing -> 0, mean
    "WITH s1 AS (SELECT l_partkey AS k, round(avg(l_discount) + 1e-9, 6) AS sc1 "
    "            FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1), "
    "     s2 AS (SELECT l_partkey AS k, round(avg(l_tax) + 1e-9, 6) AS sc2 "
    "            FROM lineitem WHERE l_linestatus = 'F' GROUP BY 1) "
    "SELECT coalesce(s1.k, s2.k) AS k, "
    "       round((coalesce(sc1, 0) + coalesce(sc2, 0)) / 2 + 1e-9, 6) AS merged "
    "FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k",
)
def score_merge(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s1 = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.round(F.avg("l_discount") + 1e-9, 6).alias("sc1"))
    )
    s2 = (
        li.filter(F.col("l_linestatus") == "F")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.round(F.avg("l_tax") + 1e-9, 6).alias("sc2"))
    )
    return s1.join(s2, "k", "full_outer").select(
        "k",
        F.round(
            (F.coalesce("sc1", F.lit(0.0)) + F.coalesce("sc2", F.lit(0.0))) / 2 + 1e-9, 6
        ).alias("merged"),
    )


@q(
    "minmax_normalize",  # A13: global min/max normalization (evaluate.py:118-126)
    "SELECT o_orderkey, round((o_totalprice - min(o_totalprice) OVER ()) / "
    "       (max(o_totalprice) OVER () - min(o_totalprice) OVER ()), 6) AS norm "
    "FROM orders",
)
def minmax_normalize(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.round((F.col("o_totalprice") - F.col("lo")) / (F.col("hi") - F.col("lo")), 6).alias("norm"),
    )


@q(
    "union_distinct",  # U1/A1: entity-pool union (subKB.py:30-38)
    "SELECT o_custkey AS key FROM orders UNION "
    "SELECT c_custkey FROM customer UNION "
    "SELECT s_suppkey FROM supplier",
)
def union_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("key"))
    return o.unionByName(c).unionByName(s).distinct()


@q(
    "dedup_keep_min_rank",  # U4: ordered dedup (util_kb.py:31-35)
    "SELECT l_orderkey, l_partkey, min(l_linenumber) AS first_seen "
    "FROM lineitem GROUP BY l_orderkey, l_partkey",
)
def dedup_keep_min_rank(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey", "l_partkey").agg(
        F.min("l_linenumber").alias("first_seen")
    )


@q(
    "group_collect_sorted",  # A14: group-collect (constraint_mining.py:32-38)
    "SELECT o_orderpriority, string_agg(DISTINCT o_orderstatus, ';' ORDER BY o_orderstatus) AS statuses "
    "FROM orders GROUP BY o_orderpriority",
)
def group_collect_sorted(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderstatus")), ";"
        ).alias("statuses")
    )


# =========================================================================
# §2 evaluation aggregates (A10-A12) — rank metrics over a deterministic
# candidate table derived from the testdata: for each order, "GT" is the
# supplier on its min-linenumber lineitem; candidates are its lineitems'
# suppliers ranked by (extendedprice desc, linenumber asc).
# =========================================================================

_CAND_SQL = (
    "WITH cand AS ("
    "  SELECT l_orderkey AS okey, l_suppkey AS supp, "
    "         row_number() OVER (PARTITION BY l_orderkey "
    "             ORDER BY l_extendedprice DESC, l_linenumber) AS rank "
    "  FROM lineitem), "
    "gt AS ("
    "  SELECT l_orderkey AS okey, "
    "         min_by(l_suppkey, l_linenumber * 1000000 + l_suppkey) AS gt_supp "
    "  FROM lineitem GROUP BY 1), "
    "best AS ("
    "  SELECT gt.okey, min(cand.rank) AS best_rank "
    "  FROM gt LEFT JOIN cand ON cand.okey = gt.okey AND cand.supp = gt.gt_supp "
    "  GROUP BY gt.okey) "
)


def _candidates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cand = topk_per_group(
        li, ["l_orderkey"], [F.desc("l_extendedprice"), F.asc("l_linenumber")],
        k=10**9,
    ).select(
        F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("supp"), "rank"
    )
    gt = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.min_by("l_suppkey", F.col("l_linenumber") * 1000000 + F.col("l_suppkey")).alias("gt_supp")
    )
    best = (
        gt.join(
            cand,
            (gt.okey == cand.okey) & (cand.supp == gt.gt_supp),
            "left",
        )
        .groupBy(gt.okey)
        .agg(F.min("rank").alias("best_rank"))
    )
    return best


@q(
    "hits_at_k_mrr",  # A10: evaluate.py:70-113
    _CAND_SQL
    + "SELECT round(avg(CASE WHEN best_rank = 1 THEN 1.0 ELSE 0.0 END), 6) AS hits1, "
    "       round(avg(CASE WHEN best_rank <= 5 THEN 1.0 ELSE 0.0 END), 6) AS hits5, "
    "       round(avg(coalesce(1.0 / best_rank, 0.0)), 6) AS mrr "
    "FROM best",
)
def hits_at_k_mrr(spark, sf_dir):
    best = _candidates(spark, sf_dir)
    return best.agg(
        F.round(F.avg(F.when(F.col("best_rank") == 1, 1.0).otherwise(0.0)), 6).alias("hits1"),
        F.round(F.avg(F.when(F.col("best_rank") <= 5, 1.0).otherwise(0.0)), 6).alias("hits5"),
        F.round(F.avg(F.coalesce(1.0 / F.col("best_rank"), F.lit(0.0))), 6).alias("mrr"),
    )


@q(
    "recall_at_k",  # A12: evaluate_REE.py:33-51 — one pass, k-grid join
    _CAND_SQL
    + "SELECT k, round(avg(CASE WHEN best_rank <= k THEN 1.0 ELSE 0.0 END), 6) AS recall "
    "FROM best CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS k) "
    "GROUP BY k",
)
def recall_at_k_query(spark, sf_dir):
    best = _candidates(spark, sf_dir)
    grid = spark.range(1, 6).select(F.col("id").alias("k"))
    return (
        best.crossJoin(F.broadcast(grid))
        .groupBy("k")
        .agg(
            F.round(
                F.avg(F.when(F.col("best_rank") <= F.col("k"), 1.0).otherwise(0.0)), 6
            ).alias("recall")
        )
    )


@q(
    "threshold_sweep",  # A11: evaluate.py:116-183 — grid cross-join, one pass
    "WITH scored AS ("
    "  SELECT (o_totalprice - min(o_totalprice) OVER ()) / "
    "         (max(o_totalprice) OVER () - min(o_totalprice) OVER ()) AS score, "
    "         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label "
    "  FROM orders) "
    "SELECT round(t * 0.05, 2) AS theta, "
    "       round(avg(CASE WHEN (score >= t * 0.05) = (label = 1) THEN 1.0 ELSE 0.0 END), 6) AS accuracy "
    "FROM scored CROSS JOIN (SELECT unnest(generate_series(0, 20)) AS t) "
    "GROUP BY t",
)
def threshold_sweep_query(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    scored = o.crossJoin(F.broadcast(stats)).select(
        ((F.col("o_totalprice") - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    grid = spark.range(0, 21).select(F.col("id").alias("t"))
    return (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("t")
        .agg(
            F.round(
                F.avg(
                    F.when(
                        (F.col("score") >= F.col("t") * 0.05) == (F.col("label") == 1),
                        1.0,
                    ).otherwise(0.0)
                ),
                6,
            ).alias("accuracy")
        )
        .select(F.round(F.col("t") * 0.05, 2).alias("theta"), "accuracy")
    )


# =========================================================================
# Training-data-pipeline operators: dedup / similarity / text analysis
# =========================================================================

# tokenization in SQL, identical to functions.text.tokenize
_TOKS_SQL = (
    "list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g')), ' '), t -> len(t) > 0)"
)
# distinct word-3-gram shingles in SQL, identical to word_ngrams(tokenize,3)
_SHINGLES_SQL = (
    "WITH toks AS (SELECT doc_id AS id, " + _TOKS_SQL + " AS t FROM documents), "
    "sh AS (SELECT id, unnest(list_distinct(CASE WHEN len(t) >= 3 THEN "
    "  list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) "
    "  ELSE [] END)) AS shingle FROM toks) "
)


@q(
    "exact_dedup",  # hash-groupBy exact dedup
    "SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_dupes "
    "FROM documents GROUP BY 1",
)
def exact_dedup_query(spark, sf_dir):
    from .operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "minhash_signatures",  # shingle -> seeded min-hash signature
    _SHINGLES_SQL
    + "SELECT id, seed, min(('0x' || substr(md5(seed || '|' || shingle), 1, 8))::ubigint::bigint) AS minhash "
    "FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) "
    "GROUP BY id, seed",
)
def minhash_signatures_query(spark, sf_dir):
    # one wide minhash aggregate per doc: no exploded-shingle shuffle
    from .operators.dedup import minhash_signatures_fused

    return minhash_signatures_fused(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=3, n_hashes=8
    )


@q(
    "lsh_candidate_pairs",  # banded LSH bucket-join candidate pairs
    _SHINGLES_SQL
    + ", sig AS ("
    "  SELECT id, seed, min(('0x' || substr(md5(seed || '|' || shingle), 1, 8))::ubigint::bigint) AS minhash "
    "  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) GROUP BY id, seed), "
    "buckets AS ("
    "  SELECT id, seed // 2 AS band, string_agg(minhash::varchar, '_' ORDER BY seed) AS bucket "
    "  FROM sig GROUP BY id, seed // 2) "
    "SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM buckets a "
    "JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id",
)
def lsh_candidate_pairs_query(spark, sf_dir):
    # fused array path: same band buckets straight off the wide minhash
    # row; the NARROW wide table (8 ints/doc) is checkpointed so the
    # tokenize+md5 minhash aggregation runs once, not once per
    # pair-machinery consumer, and the previous repeat's blocks are freed
    from .operators.dedup import lsh_pairs_from_wide, minhash_wide, shingle_pairs

    wide = _pin_checkpoint(
        "lsh_wide",
        minhash_wide(
            shingle_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3), 8
        ),
    )
    return lsh_pairs_from_wide(wide, n_hashes=8, bands=4)


_SIMHASH_SQL = (
    "WITH toks AS (SELECT doc_id AS id, unnest(" + _TOKS_SQL + ") AS tok FROM documents), "
    "h AS (SELECT id, ('0x' || substr(md5('0|' || tok), 1, 8))::ubigint::bigint AS h FROM toks), "
    "bits AS (SELECT id, bit, CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS c "
    "         FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit)), "
    "s AS (SELECT id, bit, sum(c) AS s FROM bits GROUP BY 1, 2) "
    "SELECT id, sum(CASE WHEN s > 0 THEN (1::bigint << bit) ELSE 0 END)::BIGINT AS simhash "
    "FROM s GROUP BY id"
)


@q("simhash", _SIMHASH_SQL)  # sign-sum simhash: BOTH forms under one oracle
def simhash_query(spark, sf_dir):
    """Inner-joins the explode (oracle) form with the Arrow scale form on
    (id, simhash): the row only survives where the two implementations are
    bit-identical, so one green driver row proves the oracle match AND the
    cross-implementation equivalence at once (registry consolidated to fit
    the driver's 50-query recording budget)."""
    from .operators.dedup import simhash64, simhash64_arrow

    docs = _t(spark, sf_dir, "documents")
    explode_form = simhash64(docs, "doc_id", "text", bits=32)
    arrow_form = simhash64_arrow(docs, "doc_id", "text", bits=32)
    return arrow_form.join(explode_form, ["id", "simhash"]).select("id", "simhash")


@q(
    "ngram_jaccard_pairs",  # near-dup pairs by shingle Jaccard, df-capped
    _SHINGLES_SQL
    + ", shf AS (SELECT id, shingle FROM sh WHERE shingle IN "
    "    (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000)), "
    "sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id), "
    "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i FROM shf a "
    "          JOIN shf b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2) "
    "SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b "
    "WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2",
)
def ngram_jaccard_pairs_query(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs, shingle_pairs

    # doc_id is unique per row, so the per-row-distinct explode IS the
    # oracle's sh CTE (which has no global distinct either); the operator
    # consumes the shingle table 3x (hot-df gate, sizes, both join sides) —
    # localCheckpoint materializes it ONCE, inside the timed region, so the
    # explode+tokenize never replays (guide §3.3 plan-truncation);
    # _pin_checkpoint frees the previous repeat's pinned blocks.
    sh = _pin_checkpoint(
        "ngram_sh", shingle_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)
    )
    return ngram_jaccard_pairs(sh, tau=0.2)


@q(
    "quality_features",  # corpus-cleaning quality heuristics
    "WITH toks AS (SELECT doc_id, text, " + _TOKS_SQL + " AS t FROM documents) "
    "SELECT doc_id AS id, length(text) AS n_chars, len(t) AS n_tokens, "
    "  round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, "
    "    '[^.,;:!?''\"()\\[\\]{}]', '', 'g')) * 1.0 / length(text) ELSE 0 END, 6) AS punct_ratio, "
    "  round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^A-Z]', '', 'g')) "
    "    * 1.0 / length(text) ELSE 0 END, 6) AS upper_ratio, "
    "  round(CASE WHEN len(t) > 0 THEN list_sum(list_transform(t, x -> len(x) * 1.0)) / len(t) "
    "    ELSE 0 END, 6) AS mean_token_len, "
    "  round((CASE WHEN len(t) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0 END) + "
    "        (CASE WHEN (CASE WHEN length(text) > 0 THEN length(regexp_replace(text, "
    "          '[^.,;:!?''\"()\\[\\]{}]', '', 'g')) * 1.0 / length(text) ELSE 0 END) <= 0.2 "
    "          THEN 0.3 ELSE 0 END) + "
    "        (CASE WHEN len(t) > 0 AND (list_sum(list_transform(t, x -> len(x) * 1.0)) / len(t)) "
    "          BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0 END), 2) AS quality "
    "FROM toks",
)
def quality_features_query(spark, sf_dir):
    from .textstats import quality_features

    return quality_features(_t(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "langid",  # marker-word language-ID heuristic, ties -> 'und'
    "WITH s AS (SELECT doc_id AS id, "
    "  len(list_intersect(list_distinct(" + _TOKS_SQL + "), ['the','and','of','a','is'])) AS s_en, "
    "  len(list_intersect(list_distinct(" + _TOKS_SQL + "), ['der','und','die','ist','das'])) AS s_de, "
    "  len(list_intersect(list_distinct(" + _TOKS_SQL + "), ['le','et','la','est','les'])) AS s_fr, "
    "  len(list_intersect(list_distinct(" + _TOKS_SQL + "), ['el','de','la','es','los'])) AS s_es "
    "  FROM documents) "
    "SELECT id, CASE WHEN m >= 1 AND cnt = 1 THEN "
    "  (CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de' "
    "        WHEN s_fr = m THEN 'fr' ELSE 'es' END) ELSE 'und' END AS lang_pred "
    "FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS m, "
    "  (s_en = greatest(s_en, s_de, s_fr, s_es))::int + (s_de = greatest(s_en, s_de, s_fr, s_es))::int + "
    "  (s_fr = greatest(s_en, s_de, s_fr, s_es))::int + (s_es = greatest(s_en, s_de, s_fr, s_es))::int AS cnt "
    "  FROM s)",
)
def langid_query(spark, sf_dir):
    from .textstats import langid

    return langid(_t(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "fingerprint",  # min char-5-gram hash content fingerprint
    "WITH norm AS (SELECT doc_id AS id, "
    "  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g')) AS nt "
    "  FROM documents) "
    "SELECT id, CASE WHEN length(nt) >= 5 THEN "
    "  list_min(list_transform(list_distinct(list_transform(range(1, length(nt) - 3), "
    "    i -> substr(nt, i, 5))), s -> ('0x' || substr(md5('0|' || s), 1, 8))::ubigint::bigint)) "
    "  ELSE ('0x' || substr(md5('0|' || nt), 1, 8))::ubigint::bigint END AS fingerprint "
    "FROM norm",
)
def fingerprint_query(spark, sf_dir):
    from .textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text", k=5)


# =========================================================================
# Similarity search over embeddings
# =========================================================================

_DOT64 = (
    "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::double * b.embedding[i]::double))"
)
_NORM = "sqrt(list_sum(list_transform(range(1, 65), i -> {v}.embedding[i]::double * {v}.embedding[i]::double)))"


@q(
    "cosine_topk",  # brute-force exact cosine top-k (ANN baseline)
    "WITH scored AS ("
    "  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
    "         round(" + _DOT64 + " / (" + _NORM.format(v="a") + " * " + _NORM.format(v="b") + ") + 1e-12, 6) AS cosine "
    "  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) "
    "SELECT query_id, neighbor_id, cosine, rank FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "      ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) "
    "WHERE rank <= 5",
)
def cosine_topk_query(spark, sf_dir):
    from .operators.ann import brute_force_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id", "cosine", "rank")


# Full oracle for the approximate query: the +/-1 hyperplanes are md5-bit
# derived (operators/ann.py:_hyperplanes), so DuckDB re-derives the IDENTICAL
# planes, signatures, multi-probe buckets, candidate set, and exact cosine
# re-rank — the approximate op becomes exactly value-checkable.
_LSH_ORACLE = (
    "WITH planes AS ("
    "  SELECT t.tbl, p.plane, list_transform(range(1, 65), i -> "
    "    CASE WHEN (('0x' || substr(md5((42 + 1000 * t.tbl)::varchar || '|plane' || p.plane::varchar "
    "      || '|block0'), 1, 16))::ubigint >> (i - 1)) & 1 = 1 THEN 1.0 ELSE -1.0 END) AS w "
    "  FROM (SELECT unnest(generate_series(0, 3)) AS tbl) t "
    "  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS plane) p), "
    # signature dot uses 2^-10-quantized components (matches the Spark UDF)
    # so the >= 0 sign is exact under any summation order — see
    # operators/ann.py lsh_signature_udf
    "bits AS ("
    "  SELECT e.vec_id, pl.tbl, pl.plane, "
    "    CASE WHEN list_sum(list_transform(range(1, 65), "
    "      i -> floor(e.embedding[i]::double * 1024 + 0.5) / 1024 * pl.w[i])) >= 0 "
    "      THEN (1::bigint << pl.plane) ELSE 0 END AS bit "
    "  FROM embeddings e CROSS JOIN planes pl), "
    "sig AS (SELECT vec_id, tbl, sum(bit)::bigint AS bucket FROM bits GROUP BY 1, 2), "
    "probes AS ("
    "  SELECT s.vec_id AS query_id, s.tbl, xor(s.bucket, pb.pb) AS bucket "
    "  FROM sig s CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS pb) pb WHERE s.vec_id < 10), "
    "cand AS ("
    "  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id "
    "  FROM probes p JOIN sig s ON s.tbl = p.tbl AND s.bucket = p.bucket "
    "  WHERE s.vec_id <> p.query_id), "
    "scored AS ("
    "  SELECT c.query_id, c.neighbor_id, round(" + _DOT64 + " / ("
    + _NORM.format(v="a") + " * " + _NORM.format(v="b") + ") + 1e-12, 6) AS cosine "
    "  FROM cand c JOIN embeddings a ON a.vec_id = c.query_id "
    "  JOIN embeddings b ON b.vec_id = c.neighbor_id) "
    "SELECT query_id, neighbor_id, cosine, rank FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "      ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) "
    "WHERE rank <= 5"
)


@q("lsh_cosine_topk", _LSH_ORACLE)  # hyperplane LSH ANN, exact re-rank
def lsh_cosine_topk_query(spark, sf_dir):
    from .operators.ann import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=4, n_tables=4, dim=64
    ).select("query_id", "neighbor_id", "cosine", "rank")


# F8/F8b/F9/F9b below are registered as ONE driver row (kge_pair_scores,
# `model` discriminator column) to fit the driver's 50-query recording
# budget; each remains individually pytest-covered.
def transe_pair_score_query(spark, sf_dir):
    # F8: batched embedding similarity (r = zero vec)
    from .functions.scoring import transe_score

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("h"), F.col("embedding").alias("hv"))
    b = emb.select(F.col("vec_id").alias("t"), F.col("embedding").alias("tv"))
    zero = F.array_repeat(F.lit(0.0).cast("float"), 64)
    return (
        a.join(b, F.col("t") == F.col("h") + 250)
        .withColumn("rv", zero)
        .select(
            "h", "t",
            F.round(transe_score("hv", "rv", "tv") + 1e-9, 4).alias("score"),
        )
    )


def transh_pair_score_query(spark, sf_dir):
    # TransH: hyperplane projection before the TransE norm.
    # h = vec_id, t = vec_id+250, r = embedding[vec_id % 25],
    # w (hyperplane normal) = embedding[25 + vec_id % 25];
    # c = ((h - t) . w)/|w|^2, score = sigmoid(1/mean|h + r - t - c*w|)
    from .functions.scoring import with_transh_score

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("h"), F.col("embedding").alias("hv"))
    b = emb.select(F.col("vec_id").alias("t"), F.col("embedding").alias("tv"))
    r = emb.select(F.col("vec_id").alias("rid"), F.col("embedding").alias("rv"))
    w = emb.select(F.col("vec_id").alias("wid"), F.col("embedding").alias("wv"))
    pairs = (
        a.join(b, F.col("t") == F.col("h") + 250)
        .join(r, F.col("rid") == F.col("h") % 25)
        .join(w, F.col("wid") == F.col("h") % 25 + 25)
    )
    out = with_transh_score(pairs, "hv", "rv", "tv", "wv", dim=64)
    return out.select(
        "h", "t", F.round(F.col("score") + 1e-9, 4).alias("score")
    )


def complex_pair_score_query(spark, sf_dir):
    # ComplEx: Re(<h, r, conj(t)>), packed re++im halves
    from .functions.scoring import complex_score

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("h"), F.col("embedding").alias("hv"))
    b = emb.select(F.col("vec_id").alias("t"), F.col("embedding").alias("tv"))
    r = emb.select(F.col("vec_id").alias("rid"), F.col("embedding").alias("rv"))
    return (
        a.join(b, F.col("t") == F.col("h") + 250)
        .join(r, F.col("rid") == F.col("h") % 25)
        .select(
            "h", "t",
            F.round(complex_score("hv", "rv", "tv") + 1e-9, 4).alias("score"),
        )
    )


def distmult_pair_score_query(spark, sf_dir):
    # F9: DistMult plausibility (r = ones vec)
    from .functions.scoring import distmult_score

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("h"), F.col("embedding").alias("hv"))
    b = emb.select(F.col("vec_id").alias("t"), F.col("embedding").alias("tv"))
    ones = F.array_repeat(F.lit(1.0).cast("float"), 64)
    return (
        a.join(b, F.col("t") == F.col("h") + 250)
        .withColumn("rv", ones)
        .select(
            "h", "t",
            F.round(distmult_score("hv", "rv", "tv") + 1e-9, 4).alias("score"),
        )
    )


_KGE_PAIR_SQL = (
    "WITH th_p AS ("
    "  SELECT a.vec_id AS h, b.vec_id AS t, a.embedding AS hv, b.embedding AS tv, "
    "         r.embedding AS rv, w.embedding AS wv "
    "  FROM embeddings a "
    "  JOIN embeddings b ON b.vec_id = a.vec_id + 250 "
    "  JOIN embeddings r ON r.vec_id = a.vec_id % 25 "
    "  JOIN embeddings w ON w.vec_id = 25 + (a.vec_id % 25)), "
    "th_c AS ("
    "  SELECT h, t, hv, tv, rv, wv, "
    "    (list_sum(list_transform(range(1, 65), i -> hv[i]::double * wv[i]::double)) "
    "     - list_sum(list_transform(range(1, 65), i -> tv[i]::double * wv[i]::double))) "
    "    / greatest(list_sum(list_transform(range(1, 65), i -> wv[i]::double * wv[i]::double)), 1e-18) AS cc "
    "  FROM th_p), "
    "cx_p AS ("
    "  SELECT a.vec_id AS h, b.vec_id AS t, a.embedding AS hv, b.embedding AS tv, "
    "         r.embedding AS rv "
    "  FROM embeddings a "
    "  JOIN embeddings b ON b.vec_id = a.vec_id + 250 "
    "  JOIN embeddings r ON r.vec_id = a.vec_id % 25) "
    "SELECT 'transe' AS model, a.vec_id AS h, b.vec_id AS t, "
    "  round(1.0 / (1.0 + exp(-1.0 / greatest(list_sum(list_transform(range(1, 65), "
    "    i -> abs(a.embedding[i]::double - b.embedding[i]::double))) / 64, 1e-9))) + 1e-9, 4) AS score "
    "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 250 "
    "UNION ALL "
    "SELECT 'transh' AS model, h, t, round(1.0 / (1.0 + exp(-1.0 / greatest("
    "  list_sum(list_transform(range(1, 65), i -> abs(hv[i]::double + rv[i]::double "
    "    - tv[i]::double - cc * wv[i]::double))) / 64, 1e-9))) + 1e-9, 4) AS score "
    "FROM th_c "
    "UNION ALL "
    "SELECT 'complex' AS model, h, t, round(1.0 / (1.0 + exp(-("
    "  list_sum(list_transform(range(1, 33), i -> "
    "    hv[i]::double * tv[i]::double * rv[i]::double "
    "    + hv[i + 32]::double * tv[i + 32]::double * rv[i]::double "
    "    + hv[i]::double * tv[i + 32]::double * rv[i + 32]::double "
    "    - hv[i + 32]::double * tv[i]::double * rv[i + 32]::double))"
    "))) + 1e-9, 4) AS score "
    "FROM cx_p "
    "UNION ALL "
    "SELECT 'distmult' AS model, a.vec_id AS h, b.vec_id AS t, "
    "  round(1.0 / (1.0 + exp(-list_sum(list_transform(range(1, 65), "
    "    i -> a.embedding[i]::double * b.embedding[i]::double)))) + 1e-9, 4) AS score "
    "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 250"
)


@q("kge_pair_scores", _KGE_PAIR_SQL)
def kge_pair_scores_query(spark, sf_dir):
    """All four KGE scorers — F8 TransE, F8b TransH, F9 DistMult, F9b
    ComplEx — as one driver row discriminated by a ``model`` column; full
    value oracle for every branch."""
    branches = [
        ("transe", transe_pair_score_query),
        ("transh", transh_pair_score_query),
        ("complex", complex_pair_score_query),
        ("distmult", distmult_pair_score_query),
    ]
    out = None
    for model, fn in branches:
        b = fn(spark, sf_dir).select(
            F.lit(model).alias("model"), "h", "t", "score"
        )
        out = b if out is None else out.unionByName(b)
    return out


# =========================================================================
# Multimodal plumbing / misc engine operators
# =========================================================================

@q(
    "media_features_meta",  # binary-column plumbing via mapInPandas
    "SELECT 'm' || doc_id AS media_id, "
    "  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, "
    "  octet_length(encode(text)) AS n_bytes, 8 AS feature_dim "
    "FROM documents",
)
def media_features_meta_query(spark, sf_dir):
    from .multimodal import asset_table, extract_features

    media = asset_table(_t(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "media_id", "kind", "n_bytes", F.size("feature").alias("feature_dim")
    )


@q(
    "redirect_closure",  # J12: bounded 2-hop closure (util_kb.py:186-217)
    "WITH e AS (SELECT n_name AS entity, r_name AS equivalent "
    "           FROM nation JOIN region ON n_regionkey = r_regionkey), "
    "sym AS (SELECT entity, equivalent FROM e "
    "        UNION SELECT equivalent, entity FROM e), "
    "hop2 AS (SELECT a.entity, b.equivalent FROM sym a JOIN sym b ON a.equivalent = b.entity), "
    "ident AS (SELECT entity, entity FROM (SELECT entity FROM sym "
    "          UNION SELECT equivalent FROM sym)) "
    "SELECT DISTINCT * FROM (SELECT * FROM sym UNION ALL SELECT * FROM hop2 "
    "UNION ALL SELECT * FROM ident)",
)
def redirect_closure_query(spark, sf_dir):
    from .stages.canonicalize import redirect_closure

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    edges = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_name").alias("entity"), F.col("r_name").alias("equivalent")
    )
    return redirect_closure(edges)


@q(
    "connected_components_star",  # iterative components on a star-shaped graph
    "WITH e AS (SELECT c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "rep AS (SELECT n_name, least(min(c_name), n_name) AS component FROM e GROUP BY n_name) "
    "SELECT c_name AS node, component FROM e JOIN rep USING (n_name) "
    "UNION SELECT n_name AS node, component FROM rep",
)
def connected_components_star_query(spark, sf_dir):
    from .operators.components import connected_components

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    edges = c.join(n, c.c_nationkey == n.n_nationkey).select(
        F.col("c_name").alias("src"), F.col("n_name").alias("dst")
    )
    # the labels are the min node names themselves; this graph has no
    # self-loops, so every endpoint gets a row. At this size the graph
    # finishes on the driver; tests/test_components_oracle.py also checks
    # this row with the budget disabled, through the loop and its star
    # freeze.
    return connected_components(edges)


@q(
    "neardup_clusters",  # minhash -> LSH pairs -> connected components
    # the end-to-end near-dup pipeline every training-data curator runs:
    # cluster id = min doc id reachable through the LSH pair graph
    # (singleton docs excluded — no pair, no cluster). Ids are zero-padded
    # so lexical min == numeric min on both engines.
    "WITH RECURSIVE "
    + _SHINGLES_SQL.replace("WITH ", "")
    + ", sig AS ("
    "  SELECT id, seed, min(('0x' || substr(md5(seed || '|' || shingle), 1, 8))::ubigint::bigint) AS minhash "
    "  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) GROUP BY id, seed), "
    "buckets AS ("
    "  SELECT id, seed // 2 AS band, string_agg(minhash::varchar, '_' ORDER BY seed) AS bucket "
    "  FROM sig GROUP BY id, seed // 2), "
    "pairs AS ("
    "  SELECT DISTINCT lpad(a.id::varchar, 6, '0') AS a, lpad(b.id::varchar, 6, '0') AS b "
    "  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id), "
    "edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs), "
    "reach(n, m) AS ("
    "  SELECT a, a FROM (SELECT DISTINCT a FROM edges) "
    "  UNION SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m) "
    "SELECT n AS node, min(m) AS component FROM reach GROUP BY n",
)
def neardup_clusters_query(spark, sf_dir):
    from .operators.components import connected_components
    from .operators.dedup import lsh_pairs_from_wide, minhash_wide, shingle_pairs

    docs = _t(spark, sf_dir, "documents")
    wide = _pin_checkpoint(
        "neardup_wide", minhash_wide(shingle_pairs(docs, "doc_id", "text", k=3), 8)
    )
    pairs = lsh_pairs_from_wide(wide, n_hashes=8, bands=4)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 6, "0").alias("src"),
        F.lpad(F.col("id_b").cast("string"), 6, "0").alias("dst"),
    )
    # zero-padded ids: lexical order == numeric order, so the min-name
    # label is the min doc id
    return connected_components(edges)


@q(
    "salted_join_equivalence",  # §4 skew pattern: salted == plain join
    "SELECT s_nationkey, count(*) AS n, round(sum(l_extendedprice) + 1e-7, 2) AS revenue "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "GROUP BY s_nationkey",
)
def salted_join_equivalence_query(spark, sf_dir):
    from .operators.salt import salted_join

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, on=["s_suppkey"], salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice") + 1e-7, 2).alias("revenue"),
    )


@q(
    "events_hourly_rollup",  # tumbling-window aggregate over the event stream
    "SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, "
    "  count(*) AS n, round(avg(value) + 1e-9, 6) AS avg_value "
    "FROM events GROUP BY 1, 2",
)
def events_hourly_rollup_query(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value") + 1e-9, 6).alias("avg_value"),
    )


@q(
    "extract_triples_docs",  # stage 1 extractor over the documents corpus
    "SELECT 'http://example.org/doc/doc_' || doc_id AS subject, "
    "       'http://example.org/prop/source' AS predicate, source AS literal "
    "FROM documents "
    "UNION ALL "
    "SELECT 'http://example.org/doc/doc_' || doc_id, "
    "       'http://example.org/prop/lang', lang FROM documents",
)
def extract_triples_docs_query(spark, sf_dir):
    from .corpus import documents_as_repos
    from .stages.extract import extract_triples

    repos = documents_as_repos(_t(spark, sf_dir, "documents"))
    return extract_triples(repos).select("subject", "predicate", "literal")


# =========================================================================
# Literal-canonicalization (typing) + sampling operators
# =========================================================================

@q(
    "property_range_score",  # A6: P(class | property) over object entities
    "WITH po AS (SELECT DISTINCT o_orderpriority AS predicate, o_custkey AS entity FROM orders), "
    "tot AS (SELECT predicate, count(DISTINCT entity) AS total FROM po GROUP BY 1), "
    "cnt AS (SELECT predicate, c_mktsegment AS class, count(DISTINCT entity) AS cnt "
    "        FROM po JOIN customer ON c_custkey = entity GROUP BY 1, 2) "
    "SELECT cnt.predicate, class, round(cnt * 1.0 / total + 1e-9, 6) AS score "
    "FROM cnt JOIN tot ON cnt.predicate = tot.predicate",
)
def property_range_score_query(spark, sf_dir):
    from .stages.typing import property_range_scores

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("s"),
        F.col("o_orderpriority").alias("p"),
        F.col("o_custkey").cast("string").alias("o"),
    )
    ec = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("entity"),
        F.col("c_mktsegment").alias("class"),
    )
    out = property_range_scores(o, ec)
    return out.select(
        "predicate", "class", F.round(F.col("score") + 1e-9, 6).alias("score")
    )


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({x}), '[^a-z0-9]+', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)


@q(
    "lookup_typing_score",  # Baselines/lookup_typing.py:32-66: types of top-k candidates
    "WITH asrt AS (SELECT o_orderkey::varchar AS subject, 'from_nation' AS predicate, "
    "       n_name AS literal "
    "  FROM orders JOIN customer ON o_custkey = c_custkey "
    "  JOIN nation ON c_nationkey = n_nationkey WHERE o_orderkey % 37 = 0), "
    "cand AS (SELECT " + _NORM_SQL.format(x="n_name") + " AS literal_norm, "
    "       c_custkey::varchar AS entity, "
    "       row_number() OVER (PARTITION BY n_name ORDER BY c_custkey) AS rank "
    "  FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "topk AS (SELECT literal_norm, entity FROM cand WHERE rank <= 5) "
    "SELECT DISTINCT subject, predicate, literal, c_mktsegment AS class "
    "FROM asrt JOIN topk ON topk.literal_norm = " + _NORM_SQL.format(x="asrt.literal")
    + " JOIN customer ON c_custkey::varchar = topk.entity",
)
def lookup_typing_score_query(spark, sf_dir):
    from .stages.typing import lookup_typing_types

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cn = c.join(n, c.c_nationkey == n.n_nationkey)
    assertions = (
        o.join(cn, o.o_custkey == cn.c_custkey)
        .filter(F.col("o_orderkey") % 37 == 0)
        .select(
            F.col("o_orderkey").cast("string").alias("subject"),
            F.lit("from_nation").alias("predicate"),
            F.col("n_name").alias("literal"),
        )
    )
    candidates = cn.select(
        T.normalize_text("n_name").alias("literal_norm"),
        F.col("c_custkey").cast("string").alias("entity"),
        F.row_number()
        .over(Window.partitionBy("n_name").orderBy("c_custkey"))
        .alias("rank"),
    )
    ec = c.select(
        F.col("c_custkey").cast("string").alias("entity"),
        F.col("c_mktsegment").alias("class"),
    )
    return lookup_typing_types(assertions, candidates, ec, k=5)


@q(
    "hierarchical_score_rollup",  # A8: Hscore = max over hierarchy descendants
    "WITH scores AS ("
    "  SELECT c_mktsegment AS seg, n_name AS class, "
    "         round(avg(c_acctbal) + 1e-9, 6) AS score "
    "  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), "
    "hier AS (SELECT r_name AS class, n_name AS descendant "
    "         FROM nation JOIN region ON n_regionkey = r_regionkey) "
    "SELECT seg, h.class, max(s.score) AS hscore FROM scores s "
    "JOIN hier h ON h.descendant = s.class GROUP BY 1, 2 "
    "UNION ALL SELECT seg, class, score AS hscore FROM scores",
)
def hierarchical_score_rollup_query(spark, sf_dir):
    from .stages.typing import hierarchical_rollup

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    scores = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("class"))
        .agg(F.round(F.avg("c_acctbal") + 1e-9, 6).alias("score"))
    )
    hier = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("r_name").alias("class"), F.col("n_name").alias("descendant")
    )
    return hierarchical_rollup(scores, hier, ["seg"])


@q(
    "particular_samples_alpha",  # M6 (samples.py:54-99): POS/NEG counts, alpha gate
    "WITH ents AS (SELECT c_custkey::varchar AS entity, c_mktsegment AS class, "
    "              c_name AS label FROM customer), "
    "asrt AS (SELECT o_orderkey::varchar AS subject, c_name AS literal "
    "  FROM orders JOIN customer ON o_custkey = c_custkey "
    "  WHERE o_orderkey % 20 = 0 AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')), "
    "cand AS (SELECT " + _NORM_SQL.format(x="c_name") + " AS ln, "
    "         c_custkey::varchar AS entity FROM customer), "
    "lane1 AS (SELECT a.subject, cand.entity FROM asrt a "
    "  JOIN cand ON cand.ln = " + _NORM_SQL.format(x="a.literal") + "), "
    "lane2 AS (SELECT o_orderkey::varchar AS subject, c_custkey::varchar AS entity "
    "  FROM orders JOIN customer ON o_custkey = c_custkey "
    "  WHERE o_orderkey % 20 = 10 AND c_mktsegment IN ('BUILDING', 'MACHINERY')), "
    "pairs AS (SELECT * FROM lane1 UNION ALL SELECT * FROM lane2), "
    "pool AS (SELECT DISTINCT c_mktsegment AS class FROM customer), "
    "samples AS ("
    "  SELECT 'has_cust' AS predicate, pool.class AS class, p.subject, "
    "         e.label AS literal, (pool.class = e.class) AS is_pos "
    "  FROM pairs p JOIN ents e ON e.entity = p.entity CROSS JOIN pool) "
    "SELECT predicate, class, sum(is_pos::int)::bigint AS n_pos, "
    "       sum((NOT is_pos)::int)::bigint AS n_neg "
    "FROM samples GROUP BY 1, 2 HAVING sum(is_pos::int) >= 120",
)
def particular_samples_alpha_query(spark, sf_dir):
    from .functions.text import normalize_text
    from .stages.sampling import particular_samples

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    oc = o.join(c, o.o_custkey == c.c_custkey)
    assertions = (
        oc.filter(
            (F.col("o_orderkey") % 20 == 0)
            & F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        )
        .select(
            F.col("o_orderkey").cast("string").alias("subject"),
            F.lit("has_cust").alias("predicate"),
            F.col("c_name").alias("literal"),
        )
    )
    candidates = c.select(
        normalize_text("c_name").alias("literal_norm"),
        F.col("c_custkey").cast("string").alias("entity"),
    )
    kb = (
        oc.filter(
            (F.col("o_orderkey") % 20 == 10)
            & F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        )
        .select(
            F.col("o_orderkey").cast("string").alias("s"),
            F.lit("has_cust").alias("p"),
            F.col("c_custkey").cast("string").alias("o"),
        )
    )
    entity_class = c.select(
        F.col("c_custkey").cast("string").alias("entity"),
        F.col("c_mktsegment").alias("class"),
    )
    entity_label = c.select(
        F.col("c_custkey").cast("string").alias("entity"),
        F.col("c_name").alias("label"),
    )
    pool = entity_class.select(
        F.lit("has_cust").alias("predicate"), "class"
    ).distinct()
    ps = particular_samples(
        assertions, candidates, kb, entity_class, entity_label, pool, alpha=120
    )
    return ps.groupBy("predicate", "class").agg(
        F.sum(F.col("is_pos").cast("int")).cast("bigint").alias("n_pos"),
        F.sum((~F.col("is_pos")).cast("int")).cast("bigint").alias("n_neg"),
    )


@q(
    "finetune_per_class_scores",  # M7 (prediction.py:55-108): per-(p,c) fit+predict
    "WITH pool AS (SELECT DISTINCT c_mktsegment AS class FROM customer), "
    "smp AS (SELECT 'has_cust' AS predicate, pool.class AS class, "
    "        c_acctbal / 10000.0 AS x, (c_mktsegment = pool.class) AS is_pos "
    "        FROM customer CROSS JOIN pool WHERE c_custkey % 3 = 0), "
    "fit AS (SELECT predicate, class, "
    "        avg(CASE WHEN is_pos THEN x END) AS mu_pos, "
    "        coalesce(avg(CASE WHEN NOT is_pos THEN x END), 0.0) AS mu_neg, "
    "        count(CASE WHEN is_pos THEN 1 END) AS npos "
    "        FROM smp GROUP BY 1, 2), "
    "tst AS (SELECT 'has_cust' AS predicate, pool.class AS class, "
    "        c_custkey::varchar AS subject, c_name AS literal, "
    "        c_acctbal / 10000.0 AS x "
    "        FROM customer CROSS JOIN pool WHERE c_custkey % 3 = 1) "
    "SELECT t.predicate, t.class, t.subject, t.literal, "
    "  round(1.0 / (1.0 + exp(-((t.x - (f.mu_pos + f.mu_neg) / 2.0) "
    "    * (f.mu_pos - f.mu_neg)))) + 1e-9, 6) AS score "
    "FROM tst t JOIN fit f ON f.predicate = t.predicate AND f.class = t.class "
    "WHERE f.npos > 0",
)
def finetune_per_class_scores_query(spark, sf_dir):
    from .stages.finetune import finetune_predict_per_class

    c = _t(spark, sf_dir, "customer")
    pool = c.select(F.col("c_mktsegment").alias("class")).distinct()
    base = c.crossJoin(pool).withColumn(
        "x", (F.col("c_acctbal") / 10000.0).cast("double")
    )
    samples = base.filter(F.col("c_custkey") % 3 == 0).select(
        F.lit("has_cust").alias("predicate"), "class", "x",
        (F.col("c_mktsegment") == F.col("class")).alias("is_pos"),
    )
    tests = base.filter(F.col("c_custkey") % 3 == 1).select(
        F.lit("has_cust").alias("predicate"), "class",
        F.col("c_custkey").cast("string").alias("subject"),
        F.col("c_name").alias("literal"), "x",
    )
    # fisher: the SQL-expressible closed form this oracle replays; the
    # default trained-logistic model is pinned by pytest (test_finetune)
    # since IRLS is not expressible in one DuckDB query
    out = finetune_predict_per_class(samples, tests, ["x"], model="fisher")
    return out.select(
        "predicate", "class", "subject", "literal",
        F.round(F.col("score") + 1e-9, 6).alias("score"),
    )


_LINKFEAT_T_SQL = (
    "WITH t AS (SELECT DISTINCT l_orderkey::varchar AS s, "
    "  'p' || (l_linenumber % 3)::varchar AS p, l_suppkey::varchar AS o FROM lineitem), "
    "tgt AS (SELECT * FROM t WHERE p = 'p0' AND CAST(s AS BIGINT) < 500) "
)


@q(
    "linkfeat_vector",  # M2 LinkFeat: dense 2|P| bit-vector AND sparse
    # active-index form in ONE row (both code paths run and must agree
    # with the oracle independently — a mismatch in either column fails
    # the hash). Dense: util_encode.py:129-139; sparse: auto-switch form.
    _LINKFEAT_T_SQL
    + ", fwd AS (SELECT s, o, array_agg(DISTINCT replace(p, 'p', '')::bigint) AS f "
    "           FROM t GROUP BY s, o), "
    "bwd AS (SELECT s, o, array_agg(DISTINCT replace(p, 'p', '')::bigint) AS b "
    "        FROM t GROUP BY s, o) "
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's array_join is ''
    "SELECT tgt.s, tgt.p, tgt.o, concat_ws(';', "
    "  (tgt.p <> 'p0' AND EXISTS(SELECT 1 FROM t e WHERE e.s = tgt.s AND e.p = 'p0' AND e.o = tgt.o))::int, "
    "  (tgt.p <> 'p1' AND EXISTS(SELECT 1 FROM t e WHERE e.s = tgt.s AND e.p = 'p1' AND e.o = tgt.o))::int, "
    "  (tgt.p <> 'p2' AND EXISTS(SELECT 1 FROM t e WHERE e.s = tgt.s AND e.p = 'p2' AND e.o = tgt.o))::int, "
    "  (tgt.p <> 'p0' AND EXISTS(SELECT 1 FROM t e WHERE e.s = tgt.o AND e.p = 'p0' AND e.o = tgt.s))::int, "
    "  (tgt.p <> 'p1' AND EXISTS(SELECT 1 FROM t e WHERE e.s = tgt.o AND e.p = 'p1' AND e.o = tgt.s))::int, "
    "  (tgt.p <> 'p2' AND EXISTS(SELECT 1 FROM t e WHERE e.s = tgt.o AND e.p = 'p2' AND e.o = tgt.s))::int"
    ") AS link_vec, "
    "coalesce(array_to_string(list_sort(list_concat("
    "  list_filter(coalesce(fwd.f, []), x -> x <> replace(tgt.p, 'p', '')::bigint), "
    "  list_transform(list_filter(coalesce(bw.b, []), "
    "    x -> x <> replace(tgt.p, 'p', '')::bigint), x -> x + 3))), ';'), '') AS link_idx "
    "FROM tgt LEFT JOIN fwd ON fwd.s = tgt.s AND fwd.o = tgt.o "
    "LEFT JOIN bwd bw ON bw.s = tgt.o AND bw.o = tgt.s",
)
def linkfeat_vector_query(spark, sf_dir):
    """Dense M2 (graph_feature_vectors) joined with the sparse form
    (graph_feature_vectors_sparse; 'p0'..'p2' dictionary-encoded
    value-ordered to 0..2 so active indices align with dense bit
    positions) on the candidate key — one oracle row checks both."""
    from .stages.sampling import dictionary_encode
    from .stages.score import graph_feature_vectors, graph_feature_vectors_sparse

    li = _t(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_orderkey").cast("string").alias("s"),
        F.concat(F.lit("p"), (F.col("l_linenumber") % 3).cast("string")).alias("p"),
        F.col("l_suppkey").cast("string").alias("o"),
    ).distinct()
    tgt = t.filter((F.col("p") == "p0") & (F.col("s").cast("bigint") < 500))
    cand = tgt.select(
        F.col("s").alias("subject"), F.col("p").alias("predicate"),
        F.col("o").alias("entity"),
    )
    dense = graph_feature_vectors(cand, t.toDF("s", "p", "o"), ["p0", "p1", "p2"])
    pindex = dictionary_encode(t.select("p"), "p", "idx")
    sparse = graph_feature_vectors_sparse(cand, t, pindex, n_properties=3)
    both = dense.join(sparse, ["subject", "predicate", "entity"])
    return both.select(
        F.col("subject").alias("s"), F.col("predicate").alias("p"),
        F.col("entity").alias("o"),
        F.array_join(
            F.transform(F.col("link_vec"), lambda x: x.cast("int").cast("string")),
            ";",
        ).alias("link_vec"),
        F.array_join(
            F.transform(F.col("link_idx"), lambda x: x.cast("string")), ";"
        ).alias("link_idx"),
    )


# shared fixture for the typing-decision queries: per-(mktsegment, nation)
# scores in [0,1] from customer account balances, region hierarchy above
_TYPING_SCORES_SQL = (
    "scores AS ("
    "  SELECT c_mktsegment AS seg, n_name AS class, "
    "         round(avg(c_acctbal) + 1e-9, 6) / 10000.0 AS score "
    "  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), "
    "hier AS (SELECT r_name AS class, n_name AS descendant "
    "         FROM nation JOIN region ON n_regionkey = r_regionkey) "
)


def _typing_fixture(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    scores = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("class"))
        .agg((F.round(F.avg("c_acctbal") + 1e-9, 6) / 10000.0).alias("score"))
    )
    hier = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("r_name").alias("class"), F.col("n_name").alias("descendant")
    )
    return scores, hier


@q(
    "hierarchical_typing_decision",  # typing.py:71-96 H-mode with kappa margin
    "WITH " + _TYPING_SCORES_SQL
    + ", hs AS ("
    "  SELECT seg, h.class, max(s.score) AS hscore FROM scores s "
    "  JOIN hier h ON h.descendant = s.class GROUP BY 1, 2 "
    "  UNION ALL SELECT seg, class, score AS hscore FROM scores), "
    "rel AS (SELECT class, descendant FROM hier "
    "        UNION SELECT descendant, class FROM hier), "
    "disj AS ("
    "  SELECT a.seg, a.class, max(b.hscore) AS maxd FROM hs a "
    "  JOIN hs b ON b.seg = a.seg AND b.class <> a.class "
    "  LEFT JOIN rel r ON r.class = a.class AND r.descendant = b.class "
    "  WHERE r.class IS NULL GROUP BY 1, 2) "
    "SELECT hs.seg, hs.class FROM hs LEFT JOIN disj "
    "  ON disj.seg = hs.seg AND disj.class = hs.class "
    "WHERE hs.hscore >= 0.45 AND hs.hscore - coalesce(disj.maxd, 0.0) >= -0.05",
)
def hierarchical_typing_decision_query(spark, sf_dir):
    from .stages.typing import hierarchical_typing

    scores, hier = _typing_fixture(spark, sf_dir)
    return hierarchical_typing(scores, hier, ["seg"], iota=0.45, kappa=-0.05)


_TYPING_SWEEP_SQL = (
    "WITH " + _TYPING_SCORES_SQL
    + ", gt AS ("
    "  SELECT c_mktsegment AS seg, n_name AS class FROM customer "
    "  JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2 "
    "  HAVING count(*) >= 12), "
    "grid AS (SELECT round(i * 0.05, 9) AS iota "
    "         FROM (SELECT unnest(generate_series(0, 19)) AS i)), "
    "pred AS (SELECT g.iota, s.seg, s.class FROM scores s "
    "         CROSS JOIN grid g WHERE s.score >= g.iota), "
    "stats AS ("
    "  SELECT p.iota, p.seg, count(*) AS npred, "
    "         sum(CASE WHEN gt.class IS NOT NULL THEN 1 ELSE 0 END) AS ninter "
    "  FROM pred p LEFT JOIN gt ON gt.seg = p.seg AND gt.class = p.class "
    "  GROUP BY 1, 2), "
    "gsize AS (SELECT seg, count(*) AS ngold FROM gt GROUP BY seg), "
    "uni AS (SELECT DISTINCT seg FROM gt), "
    "f AS ("
    "  SELECT g.iota, u.seg, coalesce(st.npred, 0) AS npred, "
    "         coalesce(st.ninter, 0) AS ninter, gs.ngold "
    "  FROM uni u CROSS JOIN grid g "
    "  LEFT JOIN stats st ON st.iota = g.iota AND st.seg = u.seg "
    "  JOIN gsize gs ON gs.seg = u.seg), "
    "prf AS (SELECT iota, "
    "  CASE WHEN npred > 0 THEN ninter * 1.0 / npred ELSE 0 END AS p, "
    "  CASE WHEN ngold > 0 THEN ninter * 1.0 / ngold ELSE 0 END AS r FROM f) "
)


def _typing_sweep_spark(spark, sf_dir):
    from .stages.typing import typing_sweep

    scores, _hier = _typing_fixture(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    gt = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("class"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 12)
        .select("seg", "class")
    )
    return typing_sweep(
        scores, gt, ["seg"], iota_start=0.0, iota_end=1.0, iota_step=0.05
    )


@q(
    "typing_iota_sweep",  # typing.py:29-52 one-pass iota sweep, mean P/R/F1
    _TYPING_SWEEP_SQL
    + "SELECT iota, round(avg(p) + 1e-9, 6) AS mean_precision, "
    "  round(avg(r) + 1e-9, 6) AS mean_recall, "
    "  round(avg(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0 END) + 1e-9, 6) AS mean_f1 "
    "FROM prf GROUP BY iota",
)
def typing_iota_sweep_query(spark, sf_dir):
    sweep = _typing_sweep_spark(spark, sf_dir)
    return sweep.select(
        "iota",
        F.round(F.col("mean_precision") + 1e-9, 6).alias("mean_precision"),
        F.round(F.col("mean_recall") + 1e-9, 6).alias("mean_recall"),
        F.round(F.col("mean_f1") + 1e-9, 6).alias("mean_f1"),
    )


@q(
    "typing_sweep_summary",  # typing.py:52 Avg-F1@all / Avg-F1@top5
    _TYPING_SWEEP_SQL
    + ", sweep AS (SELECT iota, "
    "    avg(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0 END) AS mean_f1 "
    "  FROM prf GROUP BY iota) "
    "SELECT round(avg(mean_f1) + 1e-9, 6) AS avg_f1_all, "
    "  round((SELECT avg(mean_f1) FROM (SELECT mean_f1 FROM sweep "
    "     ORDER BY mean_f1 DESC, iota LIMIT 5)) + 1e-9, 6) AS avg_f1_top5 "
    "FROM sweep",
)
def typing_sweep_summary_query(spark, sf_dir):
    from .stages.typing import sweep_summary

    out = sweep_summary(_typing_sweep_spark(spark, sf_dir))
    return out.select(
        F.round(F.col("avg_f1_all") + 1e-9, 6).alias("avg_f1_all"),
        F.round(F.col("avg_f1_top5") + 1e-9, 6).alias("avg_f1_top5"),
    )


@q(
    "typed_entity_filter",  # J14: first candidate whose class matches
    "WITH cand AS ("
    "  SELECT l_orderkey AS okey, l_partkey AS part, "
    "         row_number() OVER (PARTITION BY l_orderkey "
    "             ORDER BY l_extendedprice DESC, l_linenumber, l_partkey) AS rank "
    "  FROM lineitem) "
    "SELECT okey, min_by(part, rank) AS picked FROM cand "
    "JOIN part p ON p.p_partkey = cand.part AND p.p_type = 'ECONOMY' "
    "GROUP BY okey",
)
def typed_entity_filter_query(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cand = topk_per_group(
        li,
        ["l_orderkey"],
        [F.desc("l_extendedprice"), F.asc("l_linenumber"), F.asc("l_partkey")],
        k=10**9,
    ).select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"), "rank")
    typed = cand.join(
        part.filter(F.col("p_type") == "ECONOMY").select(
            F.col("p_partkey").alias("part")
        ),
        "part",
        "left_semi",
    )
    return typed.groupBy("okey").agg(F.min_by("part", "rank").alias("picked"))


@q(
    "negative_sampling",  # M4/J13: deterministic corruption + anti-join
    "WITH triples AS ("
    "  SELECT DISTINCT l_orderkey::varchar AS s, 'has_supp' AS p, l_suppkey::varchar AS o "
    "  FROM lineitem WHERE l_linenumber = 1), "
    "pool AS (SELECT s_suppkey::varchar AS entity, "
    "         row_number() OVER (ORDER BY s_suppkey::varchar) - 1 AS eid FROM supplier), "
    "cand AS ("
    "  SELECT t.s, t.p, pool.entity AS o, a.attempt FROM triples t "
    "  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS attempt) a "
    "  JOIN pool ON pool.eid = ("
    "    ('0x' || substr(md5('0|' || t.s || chr(1) || t.p || chr(1) || t.o || chr(1) || a.attempt), 1, 8))::ubigint "
    "    % (SELECT count(*) FROM pool)) ) "
    "SELECT s, p, o, attempt FROM cand "
    "WHERE NOT EXISTS (SELECT 1 FROM triples t2 "
    "  WHERE t2.s = cand.s AND t2.p = cand.p AND t2.o = cand.o)",
)
def negative_sampling_query(spark, sf_dir):
    from .stages.sampling import negative_samples

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    triples = li.select(
        F.col("l_orderkey").cast("string").alias("s"),
        F.lit("has_supp").alias("p"),
        F.col("l_suppkey").cast("string").alias("o"),
    ).distinct()
    pool = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("entity")
    )
    return negative_samples(triples, pool, attempts=5)


@q(
    "block_topk_equivalence",  # W3: block-wise top-k == exact window top-k
    "SELECT l_orderkey, l_linenumber, l_extendedprice, rank FROM ("
    "  SELECT l_orderkey, l_linenumber, l_extendedprice, "
    "         row_number() OVER (PARTITION BY l_orderkey "
    "             ORDER BY l_extendedprice DESC, l_linenumber) AS rank "
    "  FROM lineitem) WHERE rank <= 3",
)
def block_topk_equivalence_query(spark, sf_dir):
    from .operators.topk import block_topk_per_group

    li = _t(spark, sf_dir, "lineitem")
    return block_topk_per_group(
        li, ["l_orderkey"], [F.desc("l_extendedprice"), F.asc("l_linenumber")], 3
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "rank")
