"""Seeded label spreading — semi-supervised classification on the graph.

A few thousand pages carry trusted labels (topic taxonomy nodes, spam
blacklist, language-verified seeds); the other 10^11 don't. This
operator floods the labels outward as a COMPETITIVE WATERSHED: each
round, every still-unlabeled node with at least one labeled neighbor
takes the weighted-majority label among them (tie → smaller label) and
is then FROZEN — the multiclass, distance-respecting generalization of
TrustRank's single trust mass (graph/trustrank.py), and the hard-label
practical cousin of Zhu & Ghahramani (2002) label propagation.

Freezing is load-bearing, not a shortcut: the re-evaluating hard-argmax
variant is NOT stable — at a tied frontier the deterministic
tie-to-smaller lets the smaller label advance one hop per round and
eventually annex the other seed's basin (we built it first and watched
it creep). Zhu-Ghahramani avoids that by propagating continuous
distributions; with hard labels, freeze-on-first-label is what makes
the fixpoint exist. The result is a seed-Voronoi partition under
weighted-majority tie handling, reached in diameter-many rounds.

Determinism: synchronous rounds against the previous round's labels,
ties broken to the smaller label, integer weights keep the vote sums
exact — so a fixed-round run replays verbatim in SQL (the WL/Louvain
round-replay pattern), which is how the driver oracle pins it. Nodes
no label has reached are simply ABSENT (sparse state, the
temporal/landmark convention).

Scale shape per round: one adjacency⋈labels join + one
(node, label) partial-agg vote sum + a per-node argmax window — the
PageRank gather with a vote-histogram key; state is one row per
LABELED node only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner

__all__ = ["seed_label_spread"]


def seed_label_spread(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 5,
    weight_col: str | None = None,
    directed: bool = False,
) -> DataFrame:
    """edges(src, dst[, weight]) + seeds(id, label) → (id, label) for
    every node a label has reached within ``rounds`` synchronous
    spreading rounds. A node labels ONCE — weighted majority among its
    labeled neighbors the round it is first reached (ties → smaller
    label) — and seeds are clamped from the start. Self-loops dropped,
    parallel edges fold by summed weight; ``directed=True`` spreads
    along edge direction only.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    rel = edges.select("src", "dst", w.cast("double").alias("w")).filter(
        F.col("src") != F.col("dst")
    )
    if not directed:
        rel = rel.unionByName(
            rel.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    adj = (
        rel.groupBy(F.col("src").alias("j"), F.col("dst").alias("i"))
        .agg(F.sum("w").alias("w"))
        .repartition("j")
        .cache()
    )
    adj.count()
    node_ids = (
        adj.select(F.col("i").alias("id"))
        .unionByName(adj.select(F.col("j").alias("id")))
        .distinct()
    )
    seed_tbl = seeds.select("id", F.col("label").cast("long").alias("label")).join(
        node_ids, "id", "left_semi"
    )

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            adj.join(
                labels.select(
                    F.col("id").alias("j"), F.col("label").alias("l")
                ),
                "j",
            )
            .groupBy(F.col("i").alias("id"), "l")
            .agg(F.sum("w").alias("v"))
        )
        pick = (
            votes.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.desc("v"), F.asc("l")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("id", F.col("l").alias("label"))
        )
        # freeze-on-first-label: only nodes not yet labeled adopt
        return labels.unionByName(
            pick.join(labels.select("id"), "id", "left_anti")
        )

    labels = PregelRunner(spark, max_iterations=rounds).run(seed_tbl, step).state
    adj.unpersist()
    return labels
