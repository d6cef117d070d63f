"""Similarity search over embedding columns (array<float>).

brute_force_cosine_topk — exact baseline: equi-free join bounded by an
explicit query-set, cosine computed JVM-side (zip_with + aggregate — whole
stage codegen, no Python). The O(Q x N) cost is the point of the baseline;
Q is the small side and is broadcast.

lsh_cosine_topk — the scale path: random-hyperplane LSH. Hyperplane
directions are deterministic hash-derived +/-1 vectors (seeded, no RNG
state), signatures computed in one Arrow pandas-UDF pass (numpy matmul),
candidates restricted to matching buckets (with multi-probe over all
hyperplane subsets of Hamming distance 0..1), then exact cosine re-rank.
At 100 TB: signature pass is a linear scan; the join key (bucket) replaces
the quadratic pair space.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .spread import ensure_parallelism as _spread
from .topk import topk_per_group


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def brute_force_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """queries x embeddings exact cosine top-k.

    -> (query_id, neighbor_id, cosine, rank). exclude_self drops
    query_id == neighbor_id pairs — correct when queries and corpus share
    one id space; pass False for cross-domain sets (e.g. literal strings
    vs entity ids), where an accidental id collision is a real pair.
    """
    # Norms are per-VECTOR, not per-pair: computing them inside the Q x N
    # cosine meant the interpreted higher-order fold (CodegenFallback) ran
    # Q times per corpus vector and N times per query vector. Hoisting
    # each side's norm into a projection BEFORE the join evaluates the
    # same expression over the same array once per row — bit-identical
    # values, ~3x less interpreted work per pair (guide §1.2: fix the
    # per-task work once the job shape is right).
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    # the O(Q x N) cosine work is per-base-row CPU: floor its parallelism
    base = _spread(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        )
    ).withColumn("__nn", _norm(F.col("nvec")))
    joined = base.crossJoin(F.broadcast(qs))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = (
        joined.select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("nvec")) / (F.col("__qn") * F.col("__nn")),
                6,
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["query_id"], [F.desc("cosine"), F.asc("neighbor_id")], k
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic +/-1 hyperplanes straight from md5 bits — no RNG state
    to ship to executors, reproducible across runs/cluster sizes, AND
    reproducible in ANSI SQL (the DuckDB oracle re-derives the identical
    planes from md5, so the approximate query gets an exact value check).

    Bit i (0-indexed within a 64-dim block) of
    ``int(md5(f"{seed}|plane{p}|block{b}")[:16], 16)`` -> +1 if set else -1.
    """
    import hashlib

    rows = []
    for p in range(n_planes):
        vals = []
        for b in range((dim + 63) // 64):
            h = int(hashlib.md5(f"{seed}|plane{p}|block{b}".encode()).hexdigest()[:16], 16)
            vals.extend(1.0 if (h >> i) & 1 else -1.0 for i in range(64))
        rows.append(np.array(vals[:dim]))
    return np.stack(rows)


def lsh_signature_udf(n_planes: int, dim: int, seed: int = 42):
    planes = _hyperplanes(n_planes, dim, seed)  # captured; broadcast by Spark

    @pandas_udf(LongType())
    def sig(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype("float64")  # (batch, dim)
        # Quantize to multiples of 2^-10 BEFORE the plane dot: with +/-1
        # plane weights every term is then exact in double, so the sum is
        # exact under ANY summation order (numpy pairwise/SIMD vs a
        # sequential SQL list_sum) and the >= 0 sign can never flip on a
        # 1-ulp difference — the bucket assignment is bit-stable across
        # engines. Re-rank cosines still use the raw vectors.
        m = np.floor(m * 1024.0 + 0.5) / 1024.0
        bits = (m @ planes.T) >= 0  # (batch, planes)
        out = np.zeros(len(m), dtype="int64")
        for b in range(n_planes):
            out |= bits[:, b].astype("int64") << b
        return pd.Series(out)

    return sig


def lsh_multi_signature_udf(
    n_planes: int, dim: int, n_tables: int, seed_base: int = 42, seed_step: int = 1000
):
    """One Arrow pass computing ALL n_tables bucket signatures per vector
    (array<bigint>, index = table id). Bit-identical buckets to n_tables
    separate ``lsh_signature_udf(seed_base + seed_step*t)`` calls — the
    plane matrices are simply stacked into one (tables*planes, dim) matmul
    — but the input is scanned and crosses the Python boundary ONCE instead
    of once per table (guide §4.1: control how many columns/rows cross)."""
    planes = np.concatenate(
        [
            _hyperplanes(n_planes, dim, seed_base + seed_step * t)
            for t in range(n_tables)
        ]
    )  # (n_tables * n_planes, dim)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def sigs(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype("float64")  # (batch, dim)
        m = np.floor(m * 1024.0 + 0.5) / 1024.0  # same exactness argument
        bits = (m @ planes.T) >= 0  # (batch, tables*planes)
        packed = (
            bits.reshape(len(m), -1, n_planes).astype("int64") * weights
        ).sum(axis=2)  # (batch, tables)
        return pd.Series(list(packed))

    return sigs


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k with multi-table hyperplane LSH.

    AND within a table (n_planes bits must all match), OR across n_tables
    independent tables — the standard recall lever when neighbor cosines
    are moderate. Multi-probe additionally visits buckets within Hamming
    distance 1 of the query signature. Candidates are exact-cosine
    re-ranked, so returned scores equal the brute-force scores; only
    coverage is approximate. Join key is (table, bucket) — uniform.
    """
    # signature pass is per-row numpy: floor the base side's parallelism.
    # Norms hoisted per-vector before the bucket join (same rationale and
    # bit-identical values as brute_force_cosine_topk).
    base = _spread(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        )
    ).withColumn("__nn", _norm(F.col("nvec")))
    qs0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    )

    # ONE signature pass for all tables (posexplode of the per-table array)
    # instead of an n_tables-way union that re-scans the corpus and
    # re-crosses the Python boundary per table (guide §2.4/§4.1).
    sigs = lsh_multi_signature_udf(n_planes, dim, n_tables)
    base_all = base.withColumn("__sigs", sigs("nvec")).select(
        "neighbor_id",
        "nvec",
        "__nn",
        F.posexplode("__sigs").alias("table", "bucket"),
    )
    qsig = qs0.withColumn("__sigs", sigs("qvec")).select(
        "query_id", "qvec", "__qn", F.posexplode("__sigs").alias("table", "qsig")
    )
    probes = [F.col("qsig")]
    if multiprobe_hamming >= 1:
        probes += [
            F.col("qsig").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)
        ]
    qs_all = qsig.withColumn("bucket", F.explode(F.array(*probes))).drop("qsig")

    cand = base_all.join(qs_all, ["table", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    cand = cand.select(
        "query_id", "neighbor_id", "qvec", "nvec", "__qn", "__nn"
    ).dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qvec"), F.col("nvec")) / (F.col("__qn") * F.col("__nn")), 6
        ).alias("cosine"),
    )
    return topk_per_group(
        scored, ["query_id"], [F.desc("cosine"), F.asc("neighbor_id")], k
    )
