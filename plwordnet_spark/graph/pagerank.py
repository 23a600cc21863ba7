"""PageRank as a Pregel-style gather-scatter DataFrame job.

Semantics match ``networkx.pagerank`` (the reference's own graph library,
db_to_nx.py imports networkx) so the golden tests can assert
``allclose(1e-6)`` per vertex (north rule):

* power iteration on the out-weight-normalized stochastic matrix,
* damping ``alpha`` (default 0.85), uniform teleport,
* dangling mass redistributed uniformly,
* convergence when ``sum(|r_t − r_{t−1}|) < n_nodes · tol``.

Scale design:

* the edge table is augmented ONCE with the scatter share
  ``weight / out_weight(src)`` and hash-partitioned by ``src``, then
  cached — per iteration the only shuffles are the rank join on ``src``
  and the gather ``groupBy(dst)``; map-side partial aggregation absorbs
  hub in-degree skew, so this algebraic sum needs no explicit salting
  (BENCH/SKEW.md, north rule),
* ranks is the only mutable state: ``(id, rank)``, one row per node,
* the driver sees two scalars per iteration (L1 delta, dangling mass),
  observed on the checkpoint that materializes the new ranks — the step
  carries each node's previous rank beside the new one, so no iteration
  runs a second job; lineage is truncated by the PregelRunner,
* the loop runs under the session's own config (AQE on, shuffle width
  = core count, as ``get_spark`` sets it) and writes no session conf, so
  a query sharing the session runs unchanged next to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner, PregelResult

__all__ = ["pagerank"]


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    nodes: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weighted: bool = True,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    initial_ranks: DataFrame | None = None,
    start_iteration: int = 0,
    retain_snapshots: int | None = None,
    personalization: DataFrame | None = None,
) -> PregelResult:
    """edges(src, dst[, weight]) → ranks(id, rank) summing to 1.

    ``nodes``: optional (id, …) universe; defaults to ids appearing in
    edges. ``personalization``: optional (id, p) teleport distribution
    (topic-sensitive PageRank) — p is normalized to sum 1, missing ids
    get 0; teleport AND dangling mass redistribute ∝ p. None keeps the
    uniform scalar fast path."""
    weight_col = F.col("weight") if weighted and "weight" in edges.columns else F.lit(1.0)
    edge_w = edges.select("src", "dst", weight_col.cast("double").alias("w"))

    if nodes is None:
        ids = (
            edge_w.select(F.col("src").alias("id"))
            .unionByName(edge_w.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        ids = nodes.select("id").distinct()
    out_w = edge_w.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("out_w"))
    # the node universe carries its dangling flag (no out-edges) once, so
    # each iteration's dangling mass is a conditional sum over new ranks
    ids = (
        ids.join(out_w.select("id", F.lit(False).alias("_dangling")), "id", "left")
        .select("id", F.coalesce("_dangling", F.lit(True)).alias("_dangling"))
        .repartition("id")
        .cache()
    )
    sizes = ids.agg(F.count(F.lit(1)).alias("n"), F.count_if("_dangling").alias("d")).first()
    n_nodes, n_dangling = sizes["n"], sizes["d"]
    if n_nodes == 0:
        ids.unpersist()
        return PregelResult(
            state=spark.createDataFrame([], "id long, rank double"),
            iterations=0,
            converged=True,
        )

    # scatter share precomputed once; partitioned by src for the per-
    # iteration rank join (no re-exchange of the big table per step).
    # shuffle-hash hint: the default sort-merge would sort the FULL edge
    # table once per pagerank() call just to attach a per-src scalar
    # (guide §3.1); hashing the node-count-sized out_w side avoids it.
    scatter = (
        edge_w.join(out_w.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
        .repartition("src")
        .cache()
    )
    scatter.count()  # materialize before the loop

    # teleport distribution: None = uniform scalar fast path; otherwise
    # (id, _dangling, p) normalized to sum 1, cached co-partitioned with ids
    pvec = None
    if personalization is not None:
        p_raw = ids.join(
            personalization.select("id", F.col("p").cast("double").alias("_p")),
            "id",
            "left",
        ).select("id", "_dangling", F.coalesce("_p", F.lit(0.0)).alias("_p"))
        p_sum = float(p_raw.agg(F.sum("_p")).first()[0] or 0.0)
        if p_sum <= 0:
            raise ValueError("personalization must have positive total mass")
        pvec = (
            p_raw.select("id", "_dangling", (F.col("_p") / F.lit(p_sum)).alias("p"))
            .repartition("id")
            .cache()
        )
        pvec.count()

    # resume path: seed from a checkpointed (id, rank) state instead of
    # the teleport vector (north rule: resumable from checkpoint)
    if initial_ranks is not None:
        init = initial_ranks.select("id", "rank")
    elif pvec is not None:
        init = pvec.select("id", F.col("p").alias("rank"))
    else:
        init = ids.select("id", F.lit(1.0 / n_nodes).alias("rank"))

    # dangling mass of the current state: measured once for the start
    # state, then observed on each iteration's checkpoint (see ``delta``)
    dm = 0.0
    if n_dangling:
        dm = float(
            init.join(ids.filter("_dangling"), "id")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )

    def step(ranks: DataFrame) -> DataFrame:
        """Gather, then teleport + damped incoming → next rank vector
        beside the previous rank ``r0`` (the scalars' input); the uniform
        path keeps the original scalar float-op order (oracle parity).

        Shuffle-hash hints (guide §3.1): on the rank side of the scatter
        join, the planner otherwise either broadcasts the rank vector
        (measured at 24M edges: a 2.2M-row hashed relation built serially
        on the driver EVERY iteration — and a guaranteed driver OOM at
        10^9 nodes) or falls back to sort-merge, re-sorting the cached
        scatter table each step. On the node-sized gather output and
        previous ranks, the default SortMergeJoin would re-sort the node
        universe every iteration. Results are join-strategy-independent
        (same partials feed the gather sum)."""
        contribs = scatter.join(
            ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
        )
        gathered = contribs.groupBy("dst").agg(
            F.sum(F.col("rank") * F.col("share")).alias("incoming")
        )
        incoming = F.lit(alpha) * F.coalesce(F.col("incoming"), F.lit(0.0))
        if pvec is None:
            universe = ids
            rank = F.lit((1.0 - alpha) / n_nodes + alpha * dm / n_nodes) + incoming
        else:
            universe = pvec
            rank = F.col("p") * F.lit((1.0 - alpha) + alpha * dm) + incoming
        return (
            universe.join(gathered.withColumnRenamed("dst", "id").hint("shuffle_hash"), "id", "left")
            .join(ranks.withColumnRenamed("rank", "r0").hint("shuffle_hash"), "id", "left")
            .select("id", rank.alias("rank"), "r0", "_dangling")
        )

    # both scalars sum only rows the previous state held (non-null r0):
    # the L1 convergence error, and the next step's dangling mass
    present = F.col("r0").isNotNull()
    scalars = [
        F.coalesce(F.sum(F.abs(F.col("rank") - F.col("r0"))), F.lit(0.0)).alias("l1"),
        F.coalesce(
            F.sum(F.when(F.col("_dangling") & present, F.col("rank"))), F.lit(0.0)
        ).alias("dm"),
    ]

    def delta(observed: dict) -> float:
        nonlocal dm
        dm = observed["dm"]
        return observed["l1"]

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=n_nodes * tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        retain_snapshots=retain_snapshots,
    )
    result = runner.run(init, step, scalars, delta, start_iteration=start_iteration)
    scatter.unpersist()
    if pvec is not None:
        pvec.unpersist()
    ids.unpersist()
    return result
