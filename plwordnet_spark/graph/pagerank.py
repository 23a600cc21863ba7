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
* driver sees two scalars per iteration (dangling mass, L1 delta) —
  everything else stays distributed; lineage is truncated by the
  PregelRunner,
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
    check_interval: int = 1,
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
    ids = ids.repartition("id").cache()
    n_nodes = ids.count()
    if n_nodes == 0:
        return PregelResult(
            state=spark.createDataFrame([], "id long, rank double"),
            iterations=0,
            converged=True,
        )

    out_w = edge_w.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("out_w"))
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

    dangling = ids.join(out_w, "id", "left_anti").withColumn(
        "_is_dangling", F.lit(True)
    ).cache()  # no out-edges

    # teleport distribution: None = uniform scalar fast path; otherwise
    # (id, p) normalized to sum 1, cached co-partitioned with ids
    pvec = None
    if personalization is not None:
        p_raw = ids.join(
            personalization.select("id", F.col("p").cast("double").alias("_p")),
            "id",
            "left",
        ).select("id", F.coalesce("_p", F.lit(0.0)).alias("_p"))
        p_sum = float(p_raw.agg(F.sum("_p")).first()[0] or 0.0)
        if p_sum <= 0:
            raise ValueError("personalization must have positive total mass")
        pvec = (
            p_raw.select("id", (F.col("_p") / F.lit(p_sum)).alias("p"))
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

    # the dangling mass of the CURRENT state is measured in the previous
    # iteration's delta action (one combined scan instead of a separate
    # per-iteration job); graphs with no dangling nodes (checked once)
    # skip the bookkeeping entirely
    n_dangling = dangling.count()
    if n_dangling == 0:
        state_dm = {"dm": 0.0}
    else:
        state_dm = {
            "dm": float(
                init.join(dangling.select("id"), "id")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
        }
        if check_interval != 1:
            raise ValueError(
                "check_interval > 1 requires a dangling-free graph: the "
                "dangling mass is refreshed by the delta action"
            )

    def _assemble(gathered: DataFrame, dm: float) -> DataFrame:
        """teleport + damped incoming → next rank vector; the uniform
        path keeps the original scalar float-op order (oracle parity).

        The gathered side carries a shuffle-hash hint: the planner's
        default here is a SortMergeJoin that re-sorts BOTH the node
        universe and the gather output every iteration (guide §3.1 —
        "pick the strategy deliberately"); hashing the gather output
        (≤ one row per node) against the co-partitioned ids avoids both
        sorts, and at cluster scale never tempts the planner into
        broadcasting a node-count-sized vector."""
        g = gathered.withColumnRenamed("dst", "id").hint("shuffle_hash")
        if pvec is None:
            base = (1.0 - alpha) / n_nodes + alpha * dm / n_nodes
            return ids.join(g, "id", "left").select(
                "id",
                (
                    F.lit(base)
                    + F.lit(alpha) * F.coalesce(F.col("incoming"), F.lit(0.0))
                ).alias("rank"),
            )
        scalar = (1.0 - alpha) + alpha * dm
        return pvec.join(g, "id", "left").select(
            "id",
            (
                F.col("p") * F.lit(scalar)
                + F.lit(alpha) * F.coalesce(F.col("incoming"), F.lit(0.0))
            ).alias("rank"),
        )

    def step(ranks: DataFrame) -> DataFrame:
        # shuffle-hash hint on the rank side (guide §3.1): without it the
        # planner either broadcasts the rank vector (measured at 24M
        # edges: a 2.2M-row hashed relation built serially on the driver
        # EVERY iteration — and a guaranteed driver OOM at 10^9 nodes) or
        # falls back to sort-merge, re-sorting the cached scatter table
        # each step. The hinted plan shuffles only the node-count-sized
        # rank rows into the scatter table's existing partitioning and
        # builds per-partition hash tables in parallel. Results are
        # join-strategy-independent (same partials feed the gather sum).
        contribs = scatter.join(
            ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
        )
        gathered = contribs.groupBy("dst").agg(
            F.sum(F.col("rank") * F.col("share")).alias("incoming")
        )
        return _assemble(gathered, state_dm["dm"])

    def l1_delta(old: DataFrame, new: DataFrame) -> float:
        # one scan: L1 convergence error (+ next iteration's dangling mass
        # when the graph has dangling nodes)
        # both sides are checkpointed (no size estimates) — hash-join
        # instead of the planner's sort-merge fallback
        joined = old.withColumnRenamed("rank", "r0").join(
            new.hint("shuffle_hash"), "id"
        )
        if n_dangling == 0:
            return float(
                joined.agg(F.sum(F.abs(F.col("rank") - F.col("r0")))).first()[0]
            )
        joined = joined.join(dangling.select("id", "_is_dangling"), "id", "left")
        row = joined.agg(
            F.sum(F.abs(F.col("rank") - F.col("r0"))).alias("l1"),
            F.coalesce(
                F.sum(F.when(F.col("_is_dangling"), F.col("rank"))), F.lit(0.0)
            ).alias("dm"),
        ).first()
        state_dm["dm"] = float(row["dm"])
        return float(row["l1"])

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=n_nodes * tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        # the step consumes ranks linearly (single reference in the gather
        # join), so the soft-persist chain is safe and saves one job/iter
        truncate_interval=4,
        retain_snapshots=retain_snapshots,
    )
    result = runner.run(init, step, l1_delta, start_iteration=start_iteration)
    scatter.unpersist()
    dangling.unpersist()
    if pvec is not None:
        pvec.unpersist()
    ids.unpersist()
    return result
