"""Batched personalized PageRank: K seed vectors in ONE composite loop.

The related-pages primitive at web scale: a PPR vector per seed page
(teleport mass concentrated on the seed) scores every page by its
random-walk affinity to that seed. Running K seeds as K separate
`pagerank(personalization=...)` jobs pays K× the per-iteration fixed
cost and K scans of the scatter table per step; this operator applies
the ``landmark_distances`` trick to PPR — state is sparse composite
rows ``(id, seed, rank)``, so all K walks share every edge scan, every
rank join, and every gather shuffle.

Semantics per seed are IDENTICAL to
``pagerank(personalization=one_hot(seed))`` (property-tested to 1e-9):

* teleport + dangling mass both land entirely on the seed node —
  ``rank(seed) += (1-α) + α·dm(seed)``, everything else is the damped
  gather,
* unreached ``(id, seed)`` pairs simply never materialize (their rank
  is exactly 0.0) — state is Σ per-seed reached sets, not n×K up
  front,
* convergence: MAX over seeds of the per-seed L1 delta, against the
  same ``n_nodes · tol`` bound the single-vector path uses (the batch
  runs until its slowest seed converges). Each seed's L1 is one
  conditional sum observed on the round's checkpoint; the driver takes
  the max over the K values.

Scale shape: the per-iteration shuffles are ONE rank join on ``src``
(scatter side pre-partitioned and cached, never re-exchanged) and ONE
``groupBy(id, seed)`` gather with map-side partial aggregation — the
composite key spreads each seed's hub traffic across K·n keys. The
per-seed dangling masses are a K-row aggregate that stays distributed
(joined back, never collected). State is referenced three times per
step (gather join, dangling scan, the previous rank carried for the
L1); the runner materializes every round, so each reference reads that
checkpoint rather than re-running the previous step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner, PregelResult

__all__ = ["ppr_batch"]


def ppr_batch(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int] | DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weighted: bool = True,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> PregelResult:
    """edges(src, dst[, weight]) + K seeds → state (id, seed, rank).

    Seeds absent from the graph's node universe are dropped (parity
    with ``landmark_distances``; a one-hot personalization over a
    missing node has zero total mass). Rows absent from the result are
    exactly-zero ranks.

    **Checkpoint/resume** (same contract as ``pagerank``/``bfs``): with
    ``checkpoint_dir`` set, the composite (id, seed, rank) state is
    durably snapshotted every ``checkpoint_interval`` iterations plus on
    exit; ``resume=True`` restarts from the latest committed snapshot
    (falling back to a fresh run on an empty store) and — the iteration
    being deterministic — converges to the same final state as an
    uninterrupted run with the same ``seeds``/knobs (kill-and-resume
    tested). Callers must pass the SAME seed set on resume; the
    snapshot carries ranks, not the seed roster."""
    weight_col = F.col("weight") if weighted and "weight" in edges.columns else F.lit(1.0)
    edge_w = edges.select("src", "dst", weight_col.cast("double").alias("w"))

    ids = (
        edge_w.select(F.col("src").alias("id"))
        .unionByName(edge_w.select(F.col("dst").alias("id")))
        .distinct()
        .cache()
    )
    n_nodes = ids.count()

    # same list/DataFrame seed handling as the bfs family, deduped on
    # BOTH input forms (a duplicated seed would double its teleport +
    # init mass and break one-hot parity), restricted to the node
    # universe like landmark_distances
    from plwordnet_spark.graph.bfs import _source_ids

    seeds_df = (
        _source_ids(spark, seeds)
        .select(F.col("id").alias("seed"))
        .distinct()
        .join(ids.withColumnRenamed("id", "seed"), "seed", "left_semi")
        .cache()
    )
    roster = [r.seed for r in seeds_df.collect()]
    if not roster:
        seeds_df.unpersist()
        ids.unpersist()
        return PregelResult(
            state=spark.createDataFrame([], "id long, seed long, rank double"),
            iterations=0,
            converged=True,
        )

    out_w = edge_w.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("out_w"))
    scatter = (
        edge_w.join(out_w.withColumnRenamed("id", "src"), "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
        .repartition("src")
        .cache()
    )
    scatter.count()
    dangling = ids.join(out_w, "id", "left_anti").cache()
    n_dangling = dangling.count()

    init = seeds_df.select(
        F.col("seed").alias("id"), "seed", F.lit(1.0).alias("rank")
    )

    def step(state: DataFrame) -> DataFrame:
        gathered = (
            scatter.join(state.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "seed")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("inc"))
        )
        teleport = seeds_df.select(F.col("seed").alias("id"), "seed")
        if n_dangling > 0:
            dm = (
                state.join(dangling.select("id"), "id")
                .groupBy("seed")
                .agg(F.sum("rank").alias("dm"))
            )
            teleport = teleport.join(dm, "seed", "left").select(
                "id",
                "seed",
                (
                    F.lit(1.0 - alpha)
                    + F.lit(alpha) * F.coalesce(F.col("dm"), F.lit(0.0))
                ).alias("r"),
            )
        else:
            teleport = teleport.select(
                "id", "seed", F.lit(1.0 - alpha).alias("r")
            )
        new = (
            gathered.select("id", "seed", (F.lit(alpha) * F.col("inc")).alias("r"))
            .unionByName(teleport)
            .groupBy("id", "seed")
            .agg(F.sum("r").alias("rank"))
        )
        if not scalars:
            return new
        # every reached pair is re-reached each round (the teleport
        # re-seeds its walk), so the state only grows and a left join
        # from the new rows sees every previous row: the full-outer L1
        return new.join(state.withColumnRenamed("rank", "r0"), ["id", "seed"], "left")

    # fixed-k mode (tol <= 0) carries and observes nothing: the K
    # per-seed sums cost K conditional aggregates per state row
    l1 = F.abs(F.col("rank") - F.coalesce(F.col("r0"), F.lit(0.0)))
    scalars = [
        F.coalesce(F.sum(F.when(F.col("seed") == s, l1)), F.lit(0.0)).alias(f"l1_{s}")
        for s in roster
    ] if tol > 0 else []
    delta = (lambda observed: max(observed.values())) if scalars else None

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=n_nodes * tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    if resume and checkpoint_dir is None:
        raise ValueError("resume requires a checkpoint_dir")
    res = runner.resume(step, scalars, delta) if resume else None
    if res is None:  # fresh run, or resume over an empty store
        res = runner.run(init, step, scalars, delta)
    state = res.state.select("id", "seed", "rank")
    scatter.unpersist()
    dangling.unpersist()
    seeds_df.unpersist()
    ids.unpersist()
    return PregelResult(
        state=state, iterations=res.iterations, converged=res.converged,
        metrics=res.metrics,
    )
