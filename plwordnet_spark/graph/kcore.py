"""k-core decomposition (iterative peeling).

The k-core is the maximal induced subgraph where every node has degree
≥ k — the standard link-graph density filter (spam farms, crawl
frontier pruning). Peeling: repeatedly drop nodes with degree < k and
the edges touching them, to fixpoint. Each round is one degree
aggregation + two semi-joins over the shrinking edge state — the same
edge-state Pregel shape as large-star/small-star; convergence is the
CC-style order-insensitive edge fingerprint, observed on each round's
checkpoint (one action per round).

Peeling is a deterministic single-valued iteration, so running the same
round count on the engine and an unrolled SQL oracle yields identical
states whether or not the fixpoint was reached — extra rounds past the
fixpoint are no-ops (the driver contract exploits this).

Golden: node set equals ``networkx.k_core(G, k).nodes`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import (
    PregelResult,
    PregelRunner,
    fingerprint,
    unchanged_fingerprint,
)

__all__ = ["k_core"]


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 2,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, …) → state (id) = the nodes of the k-core of the
    underlying simple undirected graph (empty if none survives)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter("a != b")
        .distinct()
        .cache()
    )
    # seed with the INITIAL state's fingerprint: a graph that already is
    # its own k-core converges in one round (and max_iterations=1 on a
    # fixpoint input reports converged=True)
    seed = und.agg(*fingerprint("a", "b")).first()

    def step(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("id"))
            .unionAll(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        good = deg.filter(F.col("dg") >= k).select("id")
        # shuffle-hash hints (guide §3.1): the surviving-node set derives
        # from the checkpointed edge state (no size estimate), so the
        # planner otherwise sort-merges BOTH semi joins, re-sorting the
        # edge state twice per peel round; hashing the node-sized side
        # keeps the edge probes sort-free
        return (
            e.join(
                good.withColumnRenamed("id", "a").hint("shuffle_hash"),
                "a", "left_semi",
            )
            .join(
                good.withColumnRenamed("id", "b").hint("shuffle_hash"),
                "b", "left_semi",
            )
            .select("a", "b")
        )

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=0.5,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(und, step, fingerprint("a", "b"), unchanged_fingerprint(tuple(seed)))
    core_nodes = (
        res.state.select(F.col("a").alias("id"))
        .unionByName(res.state.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return PregelResult(
        state=core_nodes,
        iterations=res.iterations,
        converged=res.converged,
        metrics=res.metrics,
    )
