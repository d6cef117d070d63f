"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash, and n-gram Jaccard. All hashing uses the md5-based
``stable_hash32`` so DuckDB oracles reproduce signatures bit-for-bit.
Each operator has one form; the only second form is ``simhash64``, the
reference the Arrow simhash is checked against.

Scale notes
-----------
* exact_dedup: one shuffle on the content hash; map-side combine applies.
* shingles: ``shingle_pairs`` explodes per-row-distinct word k-grams and
  never dedups globally — every consumer aggregates or self-joins them.
* minhash: ``minhash_wide`` computes all n_hashes minima in ONE map-side
  combinable aggregate keyed by doc — the shuffle carries one narrow row
  per doc; ``minhash_signatures_fused`` unpivots it to (id, seed, minhash).
* LSH pairs (``lsh_candidate_pairs_fused`` / ``lsh_pairs_from_wide``):
  the join key is (band, bucket); bucket sizes are the classic skew risk
  (near-identical boilerplate docs collapse into one bucket), so the pair
  join caps bucket size (``max_bucket``) exactly like production near-dup
  systems drop degenerate buckets.
* simhash: ``simhash64_arrow`` is the scale path — tokenize runs
  JVM-side, then each distinct token's md5 and the signature bit-pack run
  as ONE vectorized numpy pass per Arrow batch (linear in tokens, no row
  blowup). ``simhash64`` is the explode form:
  tokens x bit-positions (a 32x row multiplication), kept because it is
  oracle-checkable bit-for-bit in DuckDB; both produce identical
  signatures (equivalence pytest + the Arrow form shares the same oracle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import stable_hash32, tokenize, word_ngrams
from ..session import broadcast_budget, estimated_row_bytes
from .spread import ensure_parallelism as _spread


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """-> (content_hash, keeper, n_dupes): keeper = min id per hash."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("keeper"), F.count(F.lit(1)).alias("n_dupes"))
    )


def shingle_pairs(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """-> (id, shingle) within-row-distinct word-k-gram shingles, exploded
    but NOT globally deduplicated. It matches the oracle's ``sh`` CTE
    exactly (the oracle only does per-row ``list_distinct``), so when the
    ids are unique the rows are already distinct (id, shingle) pairs;
    aggregating consumers (minhash minima) would not need the dedup anyway.

    The token array is materialized into a column BEFORE the n-gram
    transform: Catalyst does not eliminate common subexpressions inside
    higher-order-function lambdas, so inlining tokenize() there re-runs the
    whole regex chain once per n-gram index (O(len^2) — measured 10 s for
    5000 docs before this fix, <1 s after). The Project feeding the
    Generate is the required shape: a Project->Project stack collapses and
    re-inlines the token array into the lambda (measured 8x slower when the
    shingle array was staged through a second projection)."""
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select("id", tokenize("__text").alias("__toks"))
    sh = F.array_distinct(word_ngrams(F.col("__toks"), k))
    return base.select("id", F.explode(sh).alias("shingle"))


def minhash_wide(shingles: DataFrame, n_hashes: int = 8) -> DataFrame:
    """(id, shingle) pairs -> (id, m0..m{n-1}) wide minhash row: all
    n_hashes md5 minima in ONE codegen'd hash aggregate. Accepts
    shingle_pairs output (NOT globally deduped): duplicate (id, shingle)
    rows cannot change a minimum, so no exploded (id, shingle) dedup
    shuffle is needed — partial map-side aggregation means the exchange carries ~n_hashes ints per (doc, map task), not the
    exploded shingle rows (guide §2.3: aggregate before you shuffle). Docs
    with no shingles produce no row.
    """
    aggs = [
        F.min(stable_hash32(F.col("shingle"), seed=s)).alias(f"m{s}")
        for s in range(n_hashes)
    ]
    return shingles.groupBy("id").agg(*aggs)


def minhash_signatures_fused(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, n_hashes: int = 8
) -> DataFrame:
    """text -> (id, seed, minhash); seed in [0, n_hashes). The minima come
    from minhash_wide, so the only shuffle carries one narrow row per doc
    (guide §2.3/§2.4); the wide row is unpivoted with ``stack``."""
    wide = minhash_wide(shingle_pairs(df, id_col, text_col, k=k), n_hashes)
    stack = ", ".join(f"{s}L, m{s}" for s in range(n_hashes))
    return wide.selectExpr(
        "id", f"stack({n_hashes}, {stack}) as (seed, minhash)"
    )


def _pairs_from_buckets(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """(id, band, bucket) -> (id_a, id_b) distinct pairs sharing >=1 band.

    bucket-size gate as an aggregate + semi-join (cheaper than a window:
    no per-bucket sort); singleton buckets are pruned too — they cannot
    produce pairs, and they are the vast majority of buckets. Degenerate
    buckets (> max_bucket members, e.g. empty-text boilerplate) are
    dropped — at corpus scale one such bucket would otherwise produce a
    quadratic pair explosion."""
    ok_buckets = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsize"))
        .filter((F.col("bsize") >= 2) & (F.col("bsize") <= max_bucket))
        .select("band", "bucket")
    )
    sized = buckets.join(ok_buckets, ["band", "bucket"], "left_semi")
    a = sized.select("band", "bucket", F.col("id").alias("id_a"))
    b = sized.select("band", "bucket", F.col("id").alias("id_b"))
    # SHUFFLE_HASH: the bucket table scales with the corpus (|docs| x
    # bands rows), so letting Catalyst broadcast it — which it does from
    # post-aggregate size guesses — is a guaranteed OOM at 100 TB; the
    # shuffled hash join moves each side once on the uniform (band,
    # bucket) key instead (guide §3.1).
    return (
        a.join(b.hint("SHUFFLE_HASH"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_pairs_from_wide(
    wide: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id, m0..m{n-1}) wide minhash rows -> (id_a, id_b) LSH band pairs.

    The pair machinery consumes the wide table THREE times (bucket-size
    gate, both self-join sides) through subtrees that differ by
    join-side IsNotNull constraints, so Catalyst cannot reuse one
    exchange across them — callers should materialize ``wide`` first
    (localCheckpoint; it is the NARROW per-doc signature table,
    n_hashes ints per document, so storing it is cheap at any scale)
    or accept the minhash aggregation running once per consumer."""
    rows_per_band = n_hashes // bands
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{s}").cast("string")
                        for s in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = wide.select("id", F.explode(bands_arr).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return _pairs_from_buckets(buckets, max_bucket)


def lsh_candidate_pairs_fused(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """text -> (id_a, id_b) pairs sharing >=1 LSH band. band b covers seeds
    [b * n_hashes/bands, (b+1) * n_hashes/bands); its bucket key is those
    minhashes '_'-joined in seed order, serialized straight off the wide
    minhash row, so there is no signature explode and no (id, band) groupBy
    shuffle (guide §2.4). The wide signature table is localCheckpoint'd so the tokenize+md5 minhash
    aggregation runs ONCE instead of once per pair-machinery consumer
    (see lsh_pairs_from_wide); callers that manage checkpoint lifecycle
    themselves should call minhash_wide + lsh_pairs_from_wide directly."""
    wide = minhash_wide(
        shingle_pairs(df, id_col, text_col, k=k), n_hashes
    ).localCheckpoint()
    return lsh_pairs_from_wide(
        wide, n_hashes=n_hashes, bands=bands, max_bucket=max_bucket
    )


def simhash64(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """-> (id, simhash): per-token stable hash, sign-sum per bit position.

    JVM-side explode form (oracle-checkable); the 100 TB path is the same
    math as one numpy pass in mapInPandas — see module docstring.
    """
    toks = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select("id", F.explode(tokenize("__text")).alias("tok")).withColumn(
        "h", stable_hash32(F.col("tok"))
    )
    positions = df.sparkSession.range(bits).select(F.col("id").alias("bit"))
    # shiftright/shiftleft take literal shift amounts only; 2^bit via pow
    # (exact in double up to 2^52) keeps the shift-by-column JVM-side.
    p2 = F.pow(F.lit(2.0), F.col("bit")).cast("bigint")
    contrib = toks.crossJoin(F.broadcast(positions)).select(
        "id",
        "bit",
        F.when((F.col("h") / p2).cast("bigint") % 2 == 1, 1).otherwise(-1).alias("c"),
    )
    return (
        contrib.groupBy("id", "bit")
        .agg(F.sum("c").alias("s"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("bit")).cast("bigint")).otherwise(0)
            ).alias("simhash")
        )
    )


def simhash64_arrow(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """-> (id, simhash): the 100-TB SimHash path. Identical signatures to
    ``simhash64``: the per-token hash is the same md5-derived
    ``stable_hash32`` value — here computed with hashlib inside the Arrow
    pass (md5 over the same UTF-8 bytes is bit-identical by definition;
    tokens are [a-z0-9]+ post-normalize, so there is no encoding ambiguity;
    the cross-implementation equality is pinned by the explode-form join in
    the registry row and by pytest). Hashing moved Python-side because the
    previous JVM form (``transform(tokenize(...), stable_hash32)``) is a
    higher-order function — CodegenFallback, interpreted per element —
    measured ~2x the whole operator's runtime. Inside the Arrow batch the
    token stream is deduplicated first (np.unique): natural text repeats
    tokens heavily, so md5 runs once per distinct token per batch, then the
    sign-sum + bit-pack run as ONE vectorized numpy pass — linear in total
    tokens, versus the explode form's tokens x bits row multiplication.
    Token-less docs are dropped, matching the explode form.
    """
    from hashlib import md5 as _md5

    from pyspark.sql.types import LongType, StructField, StructType

    toks = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select("id", tokenize("__text").alias("__toks")).filter(
        F.size("__toks") > 0
    )
    id_field = toks.schema["id"]
    schema = StructType([id_field, StructField("simhash", LongType())])
    shifts = np.arange(bits, dtype=np.int64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            lens = np.fromiter((len(t) for t in pdf["__toks"]), dtype=np.int64)
            all_t = np.concatenate(
                [np.asarray(t, dtype=object) for t in pdf["__toks"]]
            )
            # hash each DISTINCT token once per batch (stable_hash32 bytes:
            # int16 of the first 8 hex chars of md5(b"0|" + token))
            uniq, inv = np.unique(all_t, return_inverse=True)
            uh = np.fromiter(
                (
                    int(_md5(b"0|" + t.encode("utf-8")).hexdigest()[:8], 16)
                    for t in uniq
                ),
                dtype=np.int64,
                count=len(uniq),
            )
            all_h = uh[inv]
            row_idx = np.repeat(np.arange(len(pdf)), lens)
            contrib = (((all_h[:, None] >> shifts) & 1) * 2 - 1).astype(np.int64)
            acc = np.zeros((len(pdf), bits), dtype=np.int64)
            np.add.at(acc, row_idx, contrib)
            sig = ((acc > 0).astype(np.int64) * (np.int64(1) << shifts)).sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "simhash": sig})

    return toks.mapInPandas(batches, schema=schema)


def ngram_jaccard_pairs(
    shingles: DataFrame, tau: float = 0.5, max_shingle_df: int | None = 1000
) -> DataFrame:
    """(id, shingle) -> (id_a, id_b, jaccard) for pairs with J >= tau.

    Inverted-index self-join on the shingle (equi-join — never a cross
    join). Shingle document frequency is the skew axis: a boilerplate
    shingle shared by 1M docs would make the self-join quadratic, so
    shingles with df > max_shingle_df are dropped IN-operator (stopword
    semantics — removed from both the index and the set sizes, so jaccard
    stays internally consistent), mirroring the LSH pair
    operators' max_bucket cap. Pass None to disable.
    """
    from pyspark.sql.types import IntegralType

    sc = shingles.sparkSession.sparkContext
    cap = F.lit(max_shingle_df) if max_shingle_df is not None else F.lit(None)
    survives = cap.isNull() | (F.col("df") <= cap)
    pairable_c = survives & (F.col("df") >= 2)
    # ONE bounded scalar action drives every adaptive decision below, all
    # derived from the same per-shingle frequency aggregate (guide §2:
    # derive partitioning from data, not constants):
    #   * est pair blowup = sum over surviving shingles of df*(df-1)/2 IS
    #     the ordered co-occurrence row count the self-join will emit
    #     (measured 127M rows from 2.6M shingle rows at bench scale) —
    #     sizes the pair stages' parallelism to the BLOWUP, not the input;
    #   * id bounds (min/max over shingle-group mins/maxes) decide pair-key
    #     packing;
    #   * the pairable-vocabulary row count decides whether the df>=2
    #     index prune is broadcastable.
    dfreq = shingles.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df"),
        F.min("id").alias("__mn"),
        F.max("id").alias("__mx"),
    )
    st = dfreq.agg(
        F.sum(F.when(survives, F.col("df") * (F.col("df") - 1) / 2)).alias("pairs"),
        F.min("__mn").alias("mn"),
        F.max("__mx").alias("mx"),
        F.count(F.when(pairable_c, F.lit(1))).alias("n_pairable"),
        F.sum(F.when(pairable_c, F.col("df"))).alias("pairable_rows"),
        F.sum(F.when(survives, F.col("df"))).alias("surviving_rows"),
    ).first()
    est_pairs = int(st["pairs"] or 0)
    n_pair_parts = max(
        sc.defaultParallelism, min(est_pairs // 2_000_000 + 1, 32 * sc.defaultParallelism)
    )
    if max_shingle_df is not None:
        hot = dfreq.filter(F.col("df") > max_shingle_df).select("shingle")
        shingles = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    # The pair aggregate keys on (id_a, id_b) plus the two ride-along set
    # sizes — four generic columns. When the id is integral with
    # 0 <= id < 2^31 (known from the stats action), pair key AND sizes are
    # each packed into ONE bigint: the blown-up exchange then moves 2
    # non-null long fields per row instead of 4 and the aggregate hashes a
    # single column (guide §2.3: narrower types / fewer bytes per row).
    # Unpacked (and cast back to the input dtype) after the agg, so the
    # result is bit-identical either way. (Set sizes are bounded by
    # max_shingle_df's blowup guard only implicitly, but a single document
    # cannot carry 2^31 distinct shingles in any real corpus; the unpacked
    # path remains for unbounded/non-integral ids.)
    id_type = shingles.schema["id"].dataType
    pack = (
        isinstance(id_type, IntegralType)
        and st["mn"] is not None
        and st["mn"] >= 0
        and st["mx"] < (1 << 31)
    )
    # Both broadcast gates below share the session's one byte budget,
    # estimated from the stats action's row counts at Spark's per-row size.
    budget = broadcast_budget(shingles.sparkSession)
    # df = 1 shingles cannot produce a pair — prune them from the JOIN
    # sides only (sizes above already counted them, matching the oracle's
    # per-doc n). The prune is a broadcast semi-join against the pairable
    # vocabulary, so it is gated on that vocabulary being broadcast-sized
    # AND actually removing rows; corpora where the pairable vocabulary
    # itself is data-scaled skip it and feed the self-join unpruned (df=1
    # rows emit nothing there — they only cost build/probe work).
    idx = shingles
    if st["n_pairable"] is not None and (
        st["n_pairable"] * estimated_row_bytes(shingles.select("shingle").schema)
        <= budget
    ) and (
        (st["surviving_rows"] or 0) > 1.25 * (st["pairable_rows"] or 0)
    ):
        pairable = dfreq.filter(pairable_c).select("shingle")
        idx = shingles.join(F.broadcast(pairable), "shingle", "left_semi")
    # Attach set sizes to the INDEX rows (one |shingles|-row join on id),
    # not to the pair table: the co-occurrence pair table is the blown-up
    # side (sum over shingles of df^2 rows — measured 127M intermediate /
    # ~110M distinct pairs from 2.6M shingle rows at bench scale), so
    # joining sizes after the aggregate meant two |pairs|-row joins. Here
    # na/nb ride through the self-join and are min-agg'd (functionally
    # dependent on the pair key), so the aggregate output needs NO further
    # join (guide §2.3: shuffle keys + small metadata, not re-joined
    # payloads). Identical jaccard: same sizes, same co-occurrence counts.
    # One explicit shingle-keyed exchange sized to the pair blowup; both
    # self-join sides are projections of it, so the join is co-partitioned
    # and the exchange is computed once (ReuseExchange). The SHUFFLE_HASH
    # hint keeps it that way: Catalyst otherwise estimates the index side
    # under the broadcast threshold and rewrites the self-join into a
    # BroadcastHashJoin of the full inverted index — a relation that grows
    # with the corpus, i.e. a guaranteed OOM at 100 TB — while discarding
    # the co-partitioning the repartition paid for (guide §3.1: pick the
    # strategy deliberately).
    # When the id SPAN proves the per-doc size table broadcastable
    # (n_docs <= mx - mn + 1, known from the same stats action — no extra
    # job), the sizes don't ride through the blown-up exchange at all:
    # the pair rows carry ONLY the packed key (8 data bytes/row), the
    # aggregate keeps count-only state, and na/nb are re-attached to the
    # ~|distinct pairs| aggregate OUTPUT with two map-side broadcast hash
    # probes (no shuffle). Above the budget — or for unbounded ids — the
    # sizes ride along as before (never a broadcast of a corpus-scaled
    # per-doc table).
    sizes_post = pack and (
        (st["mx"] - st["mn"] + 1) * estimated_row_bytes(sizes.schema) <= budget
    )
    sized = idx if sizes_post else idx.join(sizes, "id")
    sized = sized.repartition(n_pair_parts, "shingle")
    if sizes_post:
        a = sized.select(F.col("id").alias("id_a"), "shingle")
        b = sized.select(F.col("id").alias("id_b"), "shingle")
    else:
        a = sized.select(F.col("id").alias("id_a"), "shingle", F.col("n").alias("na"))
        b = sized.select(F.col("id").alias("id_b"), "shingle", F.col("n").alias("nb"))
    pair_rows = a.join(b.hint("SHUFFLE_HASH"), "shingle").filter(
        F.col("id_a") < F.col("id_b")
    )
    if sizes_post:
        inter = (
            pair_rows.select(
                F.shiftleft(F.col("id_a").cast("bigint"), 32)
                .bitwiseOR(F.col("id_b").cast("bigint"))
                .alias("pk")
            )
            .repartition(n_pair_parts, "pk")
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("inter"))
            .select(
                F.shiftright("pk", 32).cast(id_type).alias("id_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).cast(id_type).alias("id_b"),
                "inter",
            )
            .join(
                F.broadcast(
                    sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
                ),
                "id_a",
            )
            .join(
                F.broadcast(
                    sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
                ),
                "id_b",
            )
        )
    elif pack:
        inter = (
            pair_rows.select(
                F.shiftleft(F.col("id_a").cast("bigint"), 32)
                .bitwiseOR(F.col("id_b").cast("bigint"))
                .alias("pk"),
                F.shiftleft(F.col("na"), 32).bitwiseOR(F.col("nb")).alias("sz"),
            )
            # one exchange either way (HashPartitioning(pk, n) satisfies the
            # aggregate's distribution) — this sizes the reduce side to the
            # measured blowup instead of the session's shuffle partitions,
            # and the aggregate runs in ONE complete pass (a partial phase
            # buys nothing here: co-occurrences of a pair live under
            # different shingles, so map-side multiplicity is ~1)
            .repartition(n_pair_parts, "pk")
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("inter"), F.min("sz").alias("sz"))
            .select(
                F.shiftright("pk", 32).cast(id_type).alias("id_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).cast(id_type).alias("id_b"),
                "inter",
                F.shiftright("sz", 32).alias("na"),
                F.col("sz").bitwiseAND(F.lit((1 << 32) - 1)).alias("nb"),
            )
        )
    else:
        inter = (
            pair_rows.repartition(n_pair_parts, "id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.min("na").alias("na"),
                F.min("nb").alias("nb"),
            )
        )
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= tau)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
