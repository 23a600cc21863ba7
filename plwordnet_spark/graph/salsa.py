"""SALSA — the stochastic hubs-and-authorities ranker (Lempel & Moran 2000).

Completes the classic link-analysis triple (PageRank, HITS, SALSA). The
authority score is the stationary distribution of the back-forward
random walk: from page j, step BACK along a uniform in-link to some i
(1/indeg(j)), then FORWARD along a uniform out-link of i (1/outdeg(i)).
Unlike HITS the walk is degree-normalized on both moves, which removes
HITS's TKC drift toward tightly-knit clusters — the property that made
SALSA the ranker of record for web link spam resistance studies. The
hub chain is the mirror walk (forward then back); the two chains are
INDEPENDENT (not coupled like HITS), so one composite (id, auth, hub)
state runs both without interference.

Per iteration, per chain: two join+groupBy gathers over the edge table
(scatter side degree-normalized ONCE at setup and cached — the
per-iteration joins ship only the score vector) and one L1 normalize
via a broadcast one-row aggregate. Mass note: pages with indeg 0 leak
their initial authority mass on the first step (they are unreachable by
the authority walk — the paper's chain is defined on the authority
side of the bipartite support); the per-iteration L1 normalize keeps
the living mass a probability distribution, identically in the engine
and the driver's unrolled SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner, PregelResult

__all__ = ["salsa"]


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    max_iterations: int = 50,
    tol: float = 1e-8,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, …) → (id, authority, hub), each L1-normalized.

    ``tol=0.0`` runs exactly ``max_iterations`` (fixed-k mode, what the
    SQL oracle replays); otherwise converged when the L1 change of the
    composite (auth, hub) state drops below ``n_nodes · tol``."""
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
            state=spark.createDataFrame([], "id long, authority double, hub double"),
            iterations=0,
            converged=True,
        )
    links = (
        edges.select("src", "dst").filter("src != dst").distinct()
        .repartition("src")
        .cache()
    )
    links.count()
    # degree normalizations computed once; both are node-sized maps
    outd = links.groupBy(F.col("src").alias("id")).agg(
        (1.0 / F.count(F.lit(1))).alias("inv_out")
    ).cache()
    ind = links.groupBy(F.col("dst").alias("id")).agg(
        (1.0 / F.count(F.lit(1))).alias("inv_in")
    ).cache()

    init = ids.select(
        "id",
        F.lit(1.0 / n_nodes).alias("authority"),
        F.lit(1.0 / n_nodes).alias("hub"),
    )

    def _l1(df: DataFrame, col: str) -> DataFrame:
        norm = df.agg(F.sum(F.abs(F.col(col))).alias("_n"))
        return df.crossJoin(F.broadcast(norm)).select(
            "id",
            F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    def step(state: DataFrame) -> DataFrame:
        # authority chain: back (a/indeg gathered at src) then forward
        a_in = state.join(ind, "id").select(
            "id", (F.col("authority") * F.col("inv_in")).alias("m")
        )
        b = (
            links.join(a_in, links["dst"] == a_in["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("m").alias("b"))
        )
        b_out = b.join(outd, "id").select(
            "id", (F.col("b") * F.col("inv_out")).alias("m")
        )
        a_new = (
            links.join(b_out, links["src"] == b_out["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("m").alias("authority"))
        )
        # hub chain: forward (h/outdeg gathered at dst) then back
        h_out = state.join(outd, "id").select(
            "id", (F.col("hub") * F.col("inv_out")).alias("m")
        )
        c = (
            links.join(h_out, links["src"] == h_out["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("m").alias("c"))
        )
        c_in = c.join(ind, "id").select(
            "id", (F.col("c") * F.col("inv_in")).alias("m")
        )
        h_new = (
            links.join(c_in, links["dst"] == c_in["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("m").alias("hub"))
        )
        a_n = _l1(ids.join(a_new, "id", "left").na.fill({"authority": 0.0}), "authority")
        h_n = _l1(ids.join(h_new, "id", "left").na.fill({"hub": 0.0}), "hub")
        # the previous scores ride along as a0/h0 for the L1 scalar
        prev = state.select(
            "id", F.col("authority").alias("a0"), F.col("hub").alias("h0")
        )
        return a_n.join(h_n, "id").join(prev, "id", "left")

    l1 = F.abs(F.col("authority") - F.col("a0")) + F.abs(F.col("hub") - F.col("h0"))

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=(n_nodes * tol) if tol else None,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    result = runner.run(init, step, [F.sum(l1).alias("l1")], lambda o: o["l1"])

    for df in (ids, links, outd, ind):
        df.unpersist()
    return PregelResult(
        state=result.state.select("id", "authority", "hub"),
        iterations=result.iterations,
        converged=result.converged,
        metrics=result.metrics,
    )
