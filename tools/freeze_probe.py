"""Measure connected_components' star freeze and its driver finish.

Inside the loop the freeze (operators/components.py, freeze_stars) trades
~4 extra small shuffles + an anti-join + one eager localCheckpoint job per
round against shrinking the frontier. The loop variants run with
spark.sql.autoBroadcastJoinThreshold=-1, so no round finishes on the
driver; the "driver" variant runs with the session's broadcast budget,
i.e. what callers get by default (a numpy union-find on the driver once
the edges, or a later round's frontier, fit the budget).

Deterministic synthetic graphs (no external data, no RNG):
  * star-only: n/4 components of 4 leaves — the freeze's worst case
    (everything freezes in round one, so the stock loop converges just
    as fast and the freeze joins are pure overhead).
  * mixed: 80% of edges in 4-leaf stars + 20% in 100-edge chains — the
    near-dup similarity-graph shape (most components tiny, a few long
    convergence tails) where freezing pays: star edges leave the loop in
    round one instead of re-shuffling for the chains' ~7 extra rounds.

Usage: python tools/freeze_probe.py [edges ...]   (default 150k star,
3.6M + 20.8M mixed — the scales the docstrings cite). Prints one JSON
line per (graph, variant) with wall seconds, then a summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def star_graph(spark, n_edges: int, leaves: int = 4):
    """Edge i: star s = i // leaves, leaf j = i % leaves. Root name sorts
    below its leaves, so it is the component label."""
    return spark.range(n_edges).select(
        F.format_string("s%012da", (F.col("id") / leaves).cast("long")).alias("src"),
        F.format_string(
            "s%012dl%d", (F.col("id") / leaves).cast("long"), F.col("id") % leaves
        ).alias("dst"),
    )


def chain_graph(spark, n_edges: int, length: int = 100):
    """Edge i: chain c = i // length, position p = i % length — chains of
    `length` edges need ~log2(length) CC rounds to converge."""
    return spark.range(n_edges).select(
        F.format_string(
            "c%012dn%04d", (F.col("id") / length).cast("long"), F.col("id") % length
        ).alias("src"),
        F.format_string(
            "c%012dn%04d", (F.col("id") / length).cast("long"), F.col("id") % length + 1
        ).alias("dst"),
    )


def mixed_graph(spark, n_edges: int):
    n_star = int(n_edges * 0.8)
    return star_graph(spark, n_star).unionByName(
        chain_graph(spark, n_edges - n_star)
    )


def time_cc(edges, threshold: str | None, **kw) -> tuple[float, int]:
    """Wall seconds and label rows of one run; threshold overrides the
    broadcast budget for it (None keeps the session's)."""
    from kg_curation_spark.operators.components import connected_components

    conf = edges.sparkSession.conf
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = conf.get(key)
    if threshold is not None:
        conf.set(key, threshold)
    try:
        t0 = time.time()
        n = connected_components(edges, **kw).count()
        return time.time() - t0, n
    finally:
        conf.set(key, prev)


def main() -> None:
    from kg_curation_spark.session import get_spark

    spark = get_spark(app_name="freeze-probe")
    spark.sparkContext.setLogLevel("ERROR")

    scales = [int(s) for s in sys.argv[1:]] or [150_000, 3_600_000, 20_800_000]
    results = []
    for n_edges in scales:
        graph = "star" if n_edges <= 200_000 else "mixed"
        edges = (star_graph if graph == "star" else mixed_graph)(spark, n_edges)
        edges = edges.localCheckpoint()  # exclude generation from timings
        row = {"graph": graph, "edges": n_edges}
        for variant, threshold, kw in [
            ("freeze", "-1", {"freeze_stars": True}),
            ("no_freeze", "-1", {"freeze_stars": False}),
            ("driver", None, {}),
        ]:
            wall, rows = time_cc(edges, threshold, **kw)
            row[variant] = round(wall, 2)
            row[f"{variant}_rows"] = rows
            print(
                json.dumps({"graph": graph, "edges": n_edges, "variant": variant,
                            "wall_s": round(wall, 2), "label_rows": rows}),
                flush=True,
            )
        assert row["freeze_rows"] == row["no_freeze_rows"] == row["driver_rows"], row
        row["freeze_vs_stock"] = round(row["freeze"] / row["no_freeze"], 2)
        results.append(row)
    print(json.dumps({"summary": results}))


if __name__ == "__main__":
    main()
