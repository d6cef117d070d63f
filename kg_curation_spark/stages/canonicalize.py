"""Stage 5 — entity canonicalization.

Two parts, per SURVEY.md §4 and the north star stage (3):

  redirect_closure  bounded 2-hop closure of redirect edges
                    (util_kb.py:186-217 — J12): two join rounds + union,
                    no loop needed.
  canonicalize      unbounded connected components over a similarity graph
                    (redirect edges ∪ same-label edges ∪ decided-correction
                    co-reference edges) -> canonical id per entity, via
                    operators/components: a driver-side union-find when the
                    edge set fits the session's broadcast byte budget, the
                    large-star/small-star loop above it.

Above the budget the loop's input is explicitly repartitioned into the
session's shuffle partitions (north rule) and hot entities are defused
inside the algorithm (see components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_text
from ..operators.components import connected_components


def redirect_closure(redirects: DataFrame) -> DataFrame:
    """(entity, equivalent) -> 2-hop closure incl. identity, both directions."""
    e1 = redirects.select("entity", "equivalent")
    rev = e1.select(
        F.col("equivalent").alias("entity"), F.col("entity").alias("equivalent")
    )
    sym = e1.unionByName(rev)
    hop2 = (
        sym.alias("a")
        .join(sym.alias("b"), F.col("a.equivalent") == F.col("b.entity"))
        .select(F.col("a.entity").alias("entity"), F.col("b.equivalent").alias("equivalent"))
    )
    ident = (
        sym.select("entity")
        .unionByName(sym.select(F.col("equivalent").alias("entity")))
        .distinct()
        .select("entity", F.col("entity").alias("equivalent"))
    )
    return sym.unionByName(hop2).unionByName(ident).distinct()


def similarity_edges(
    entity_label: DataFrame, redirects: DataFrame
) -> DataFrame:
    """Edges for clustering: redirect pairs + entities sharing a normalized
    label (blocking key = label; a label shared by a hot entity set is
    bounded by the per-label group size). An edge may repeat —
    connected_components deduplicates inside its loop and the driver
    union-find ignores repeats — so no vocabulary-scale distinct."""
    red = redirects.select(
        F.col("entity").alias("src"), F.col("equivalent").alias("dst")
    )
    # connect every entity of a label group to the group's min entity —
    # star edges, |group| rows, instead of a quadratic self-join. The min
    # is a window over one label-keyed exchange (a groupBy + join back
    # would shuffle twice); null labels form no group.
    lab = entity_label.select("entity", normalize_text("label").alias("lab"))
    same_label = lab.filter(F.col("lab").isNotNull()).select(
        F.col("entity").alias("src"),
        F.min("entity").over(Window.partitionBy("lab")).alias("dst"),
    )
    # self-edges (identity redirects, group reps) are clustering no-ops
    return red.unionByName(same_label).filter(F.col("src") != F.col("dst"))


def canonicalize(entity_label: DataFrame, redirects: DataFrame) -> DataFrame:
    """-> (node, component): canonical cluster id per entity, the smallest
    entity URI of its cluster.

    Runs connected_components on the entity names themselves (URIs are
    totally ordered, so the min node IS the deterministic label) under its
    one adaptive gate: when the similarity edges fit the session's
    broadcast byte budget (``spark.sql.autoBroadcastJoinThreshold``) they
    are pulled by one bounded Arrow collect and labelled by a union-find
    on the driver, and the session's constraint-propagation conf is never
    touched. Larger graphs run the loop, shuffled into
    ``spark.sql.shuffle.partitions`` partitions, until a round's frontier
    fits the budget, then finish the same way. The similarity graph is
    star-dominated (label groups and redirect alias pairs), so star
    freezing leaves about one heavy loop round.

    Entities absent from the graph (no same-label peer, no redirect) have
    no row; apply_canonical coalesces them to themselves.
    """
    return connected_components(similarity_edges(entity_label, redirects))


def apply_canonical(decided: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite decided triple objects (and subjects) to canonical ids."""
    c_obj = canon.select(
        F.col("node").alias("object"), F.col("component").alias("object_canon")
    )
    c_sub = canon.select(
        F.col("node").alias("subject"), F.col("component").alias("subject_canon")
    )
    return (
        decided.join(c_obj, "object", "left")
        .join(c_sub, "subject", "left")
        .select(
            F.coalesce("subject_canon", "subject").alias("subject"),
            "predicate",
            F.coalesce("object_canon", "object").alias("object"),
            "score",
            "literal",
            "content_sha",
        )
    )
