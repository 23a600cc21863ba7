"""HITS (hubs & authorities) — Kleinberg's link-analysis pair to PageRank.

Power iteration on the un-normalized adjacency: per round
``auth_raw(v) = Σ_{u→v} hub(u)`` then L2-normalize, then
``hub_raw(u) = Σ_{u→v} auth(v)`` then L2-normalize. Each half-round is
one join + one groupBy-sum (map-side combine absorbs hub in-degree
skew); the L2 norms stay relational — a one-row aggregate cross-joined
(broadcast) onto the state, so the driver never collects a vector.
Pregel state is one (id, hub) row per node; authority is derived from
the final hub (consistent pair, identical at convergence).

Beyond the reference (networkx-side there); a first-class link-graph
signal for crawl frontier/quality scoring. Goldens vs a pure-Python
implementation; the driver oracle unrolls fixed-k iterations in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner, PregelResult

__all__ = ["hits"]


def hits(
    spark: SparkSession,
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 50,
    tol: float = 1e-8,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, …) → (id, hub, authority), both L2-normalized.

    ``tol``: converged when the L1 change of the hub vector drops below
    ``n_nodes · tol``; pass ``tol=0.0`` to run exactly max_iterations
    (fixed-k mode — what the driver's SQL oracle replays). The L1 change
    is observed on each round's checkpoint in either mode, so every
    round is one Spark action and lands its ``delta`` in the metrics."""
    ids = (
        (nodes.select("id") if nodes is not None else
         edges.select(F.col("src").alias("id"))
         .unionByName(edges.select(F.col("dst").alias("id"))))
        .distinct()
        .repartition("id")
        .cache()
    )
    n_nodes = ids.count()
    if n_nodes == 0:
        return PregelResult(
            state=spark.createDataFrame([], "id long, hub double, authority double"),
            iterations=0,
            converged=True,
        )
    links = (
        edges.select("src", "dst").filter("src != dst")
        .repartition("src").dropDuplicates(["src", "dst"]).cache()
    )
    links.count()
    # second copy of the edge cache laid out for the hub gather: the
    # auth→hub half-round joins on dst, and without this the src-
    # partitioned cache was re-exchanged by dst EVERY iteration
    # (guide §2.4 — two operations keyed differently, one layout each)
    links_by_dst = links.repartition("dst").cache()
    links_by_dst.count()

    # state carries HUB ONLY: authority is an intermediate inside each
    # step and is derived once from the final hub after the loop. A
    # (hub, authority) state would reference the auth subtree twice per
    # step (once feeding hub_raw, once carried to the output), and
    # Catalyst does not reuse those subtrees — measured 2× per-iteration
    # aggregation work.
    #
    # The LOOP state is SPARSE (r6): rows exist only for nodes the
    # gathers can reach (nonzero-able entries). A node absent from the
    # state contributed exactly 0.0 to every sum in the old dense plan
    # (x + 0.0 = x in IEEE), so all values are unchanged — but each
    # half-round drops its node-universe fill join, removing two
    # node-sized exchanges per iteration. The dense (id, hub, authority)
    # vector is assembled ONCE after the loop.
    #
    # The L1 change must still see nodes that LEFT the support (their
    # previous hub counts against an exact 0.0): each step full-outer
    # joins the previous hub, and a node that left stays one round as a
    # tombstone row (hub NULL) that the next step drops before gathering.
    init = ids.select("id", F.lit(1.0 / n_nodes).alias("hub"))

    # Each half-round's raw gather is persist()ed so the broadcast-norm
    # subtree reads the cache instead of RE-EXECUTING the gather — without
    # the cache, Catalyst gives the one-row norm aggregate its own copy of
    # the whole join+groupBy subtree (no subtree reuse across a broadcast
    # exchange), doubling every iteration's aggregation work (measured:
    # HITS at 10 iters cost ~1.6× PageRank's whole convergence run).
    # Caches from iteration i are released at the start of iteration i+1:
    # by then the runner has eagerly materialized iteration i's state.
    pending_caches: list[DataFrame] = []

    def _mark(df: DataFrame) -> DataFrame:
        df.persist()
        pending_caches.append(df)
        return df

    def _release_caches() -> None:
        for df in pending_caches:
            df.unpersist()
        pending_caches.clear()

    def _live(state: DataFrame) -> DataFrame:
        return state.filter(F.col("hub").isNotNull())

    def _l2_normalized(raw: DataFrame, col: str) -> DataFrame:
        # one-row norm aggregate broadcast back onto the (cached) gather
        # output — the driver never collects a vector
        norm = raw.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n"))
        return (
            raw.crossJoin(F.broadcast(norm))
            .withColumn(
                col,
                F.when(F.col("_n") > 0, F.col(col) / F.col("_n")).otherwise(F.lit(0.0)),
            )
            .drop("_n")
        )

    def _auth_of(hub_state: DataFrame) -> DataFrame:
        # sparse: (id, authority) rows only for nodes with ≥1 in-link
        # from a state row; everything else is an exact 0.0 both here
        # and in the dense formulation. shuffle-hash hint keeps the
        # cached edge side sort-free (guide §3.1).
        raw = _mark(
            links.join(
                hub_state.select(F.col("id").alias("src"), "hub").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("authority"))
        )
        return _l2_normalized(raw, "authority")

    def step(state: DataFrame) -> DataFrame:
        _release_caches()  # previous iteration's state is materialized
        hub_state = _live(state)
        # auth itself is referenced exactly once (hub_raw's join) — only
        # the raw gathers need caching; persisting auth would store a
        # full node vector per iteration for zero reuse
        auth = _auth_of(hub_state)
        hub_raw = _mark(
            links_by_dst.join(
                auth.select(F.col("id").alias("dst"), "authority").hint(
                    "shuffle_hash"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("hub"))
        )
        return _l2_normalized(hub_raw, "hub").join(
            hub_state.select("id", F.col("hub").alias("h0")), "id", "full"
        )

    # full outer + coalesce: sparse states still yield the DENSE vectors'
    # L1 difference (missing row ≡ exact 0.0)
    l1 = F.abs(F.coalesce(F.col("hub"), F.lit(0.0)) - F.coalesce(F.col("h0"), F.lit(0.0)))

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=n_nodes * tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(init, step, [F.sum(l1).alias("l1")], lambda o: o["l1"])
    _release_caches()
    # ONE dense fill over the node universe, after the loop: sparse
    # hub/authority rows land on ids, absences are exact 0.0s
    hub_state = _live(res.state)
    state = (
        ids.join(hub_state, "id", "left")
        .join(_auth_of(hub_state), "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
        .localCheckpoint(eager=True)
    )  # materialize before releasing caches
    _release_caches()
    links.unpersist()
    links_by_dst.unpersist()
    ids.unpersist()
    return PregelResult(
        state=state, iterations=res.iterations, converged=res.converged,
        metrics=res.metrics,
    )
