"""Katz centrality: attenuated path-count influence over a directed graph.

Complements PageRank (graph/pagerank.py) in the link-analysis family the
reference's graph pipeline motivates (plwordnet_handler's relation-graph
construction feeds rank-style analyses): Katz scores every vertex by the
alpha-attenuated number of walks arriving at it —

    x_{t+1}(v) = alpha * sum_{(u,v) in E} x_t(u) + beta

which converges to the Neumann series (I - alpha*A^T)^{-1} * beta*1 when
alpha < 1/lambda_max(A). Unlike PageRank there is no degree
normalization and no dangling redistribution, so the gather is a plain
sparse mat-vec.

Scale shape: identical to the PageRank iteration — the only
corpus-sized operations per step are one join of the rank state against
the edge table on ``src`` (both sides pre-partitioned on the key, so
the shuffle happens once at setup, not per iteration) and one groupBy
``dst`` gather with map-side partial aggregation. The L2 normalization
at the end is one scalar aggregate broadcast back. Lineage truncation,
convergence checks, durable checkpoint/resume and per-iteration metrics
all come from PregelRunner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelResult, PregelRunner

__all__ = ["katz_centrality"]


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iterations: int = 50,
    tol: float = 1e-8,
    normalize: bool = True,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, …) → (id, katz) for every vertex.

    ``tol``: converged when the L1 change of the score vector drops
    below ``n_nodes * tol``; ``tol=0.0`` runs exactly max_iterations
    (fixed-k mode, what golden tests replay). ``normalize=True`` scales
    the final vector to unit L2 norm (networkx's convention), which
    cancels ``beta``; pass ``normalize=False`` to read raw attenuated
    walk counts.

    Divergence guard: alpha must satisfy alpha < 1/lambda_max(A) for
    the series to converge; the caller owns the spectral bound (a safe
    default is alpha <= 1/max_in_degree).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .repartition("id")
        .cache()
    )
    n_nodes = ids.count()
    if n_nodes == 0:
        return PregelResult(
            state=spark.createDataFrame([], "id long, katz double"),
            iterations=0,
            converged=True,
        )
    links = (
        edges.select("src", "dst").distinct().repartition("src").cache()
    )
    links.count()

    init = ids.select("id", F.lit(beta).alias("katz"))

    def step(state: DataFrame) -> DataFrame:
        gathered = (
            state.join(links, state["id"] == links["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("katz").alias("incoming"))
        )
        # the previous score rides along as k0 for the L1 scalar
        return (
            ids.join(gathered, "id", "left")
            .join(state.withColumnRenamed("katz", "k0"), "id", "left")
            .select(
                "id",
                (
                    F.lit(alpha) * F.coalesce(F.col("incoming"), F.lit(0.0))
                    + F.lit(beta)
                ).alias("katz"),
                "k0",
            )
        )

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=(n_nodes * tol) if tol else None,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    result = runner.run(
        init, step, [F.sum(F.abs(F.col("katz") - F.col("k0"))).alias("l1")],
        lambda o: o["l1"],
    )

    out = result.state
    if normalize:
        norm = out.agg(F.sqrt(F.sum(F.col("katz") ** 2)).alias("n2"))
        out = out.crossJoin(F.broadcast(norm)).select(
            "id", (F.col("katz") / F.col("n2")).alias("katz")
        )
    ids.unpersist()
    links.unpersist()
    return PregelResult(
        state=out,
        iterations=result.iterations,
        converged=result.converged,
        metrics=result.metrics,
    )
