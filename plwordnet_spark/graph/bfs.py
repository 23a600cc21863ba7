"""Shortest-path distances: unweighted BFS and weighted SSSP.

Both are min-plus distance flooding on the Pregel runner — hash-min
label flooding carrying ``min(dist + w)`` instead of ``min(id)``: per
round one join (FRONTIER dists onto edges) +
one groupBy(min) gather, both with map-side partial aggregation, state
is one (id, dist, changed) row per node. Only rows whose dist improved
last round enter the relax join (delta relaxation), so total work is
O(E) for BFS rather than O(diameter·E). BFS is the w≡1 case kept on
integer arithmetic (long distances); SSSP (Bellman-Ford rounds) carries
double weights, converging in ≤ |V| rounds for non-negative weights. At
web scale each round's traffic is the frontier rows, never the reached
set and never the cached edge table.

Beyond the reference (its graphs go to networkx for path queries,
SURVEY.md §2.10); hop/weighted distance from seed sets (e.g. trusted
domains) is a standard link-graph signal. Both are deterministic
single-valued iterations: fixed-round runs are oracle-replayable whether
or not the fixpoint landed. Goldens vs pure-Python BFS/Dijkstra; the
driver oracles are a recursive CTE (BFS) and unrolled relaxation (SSSP).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import (
    PregelResult,
    PregelRunner,
    _checkpoint,
    frontier_scalars,
)
from plwordnet_spark.storage.snapshots import SnapshotStore

__all__ = [
    "bfs_distances",
    "bfs_tree",
    "sssp_distances",
    "delta_stepping_sssp",
    "landmark_distances",
]


def _source_ids(spark: SparkSession, sources: list[int] | DataFrame) -> DataFrame:
    if isinstance(sources, DataFrame):
        return sources.select("id")
    return spark.createDataFrame([(int(s),) for s in sources], "id long")


def _node_ids(edges: DataFrame, nodes: DataFrame | None) -> DataFrame:
    return (
        (nodes.select("id") if nodes is not None else
         edges.select(F.col("src").alias("id"))
         .unionByName(edges.select(F.col("dst").alias("id"))))
        .distinct()
        .cache()
    )


def _unweighted_rel(edges: DataFrame, directed: bool) -> DataFrame:
    """Canonical unit-hop relaxation edges (u, v): reversed copies when
    undirected, self-loops dropped, deduped. Shared by bfs_distances and
    landmark_distances so the two hop-distance operators can never
    diverge on edge semantics.

    One shuffle, not two (guide §2.4): the repartition("u") runs FIRST
    and the dedup groups on (u, v) partition-locally — hash(u)
    partitioning satisfies the (u, v) clustering requirement, so the
    distinct adds no exchange, and the output already carries the
    hash(u) layout every relax join needs."""
    rel = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if not directed:
        rel = rel.unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
    return rel.filter("u != v").repartition("u").dropDuplicates(["u", "v"])


def _weighted_rel(edges: DataFrame, weight_col: str, directed: bool) -> DataFrame:
    """Canonical weighted relaxation edges (u, v, w): double weights,
    reversed copies when undirected, self-loops dropped, parallel edges
    collapsed to their minimum weight. Shared by Bellman-Ford and
    delta-stepping so the two can never diverge on edge semantics.
    Same single-shuffle layout discipline as :func:`_unweighted_rel`."""
    rel = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col(weight_col).cast("double").alias("w"),
    )
    if not directed:
        rel = rel.unionByName(
            edges.select(
                F.col("dst").alias("u"), F.col("src").alias("v"),
                F.col(weight_col).cast("double").alias("w"),
            )
        )
    return (
        rel.filter("u != v")
        .repartition("u")
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )


def _min_plus_loop(
    spark: SparkSession,
    rel: DataFrame,  # (u, v, w) cached relaxation edges
    ids: DataFrame,  # cached node universe
    init: DataFrame,  # SPARSE (id, dist): source rows only, dist set
    max_iterations: int,
    checkpoint_dir: str | None,
    checkpoint_interval: int,
) -> PregelResult:
    """dist(v) ← min(dist(v), min_u(dist(u) + w(u,v))) to fixpoint,
    **frontier-based**: only rows whose dist changed last round re-emit.

    State carries a ``changed`` flag; the relax join reads
    ``state.filter(changed)`` — the frontier — not the whole reached set.
    Per-round work is O(|frontier|·deg) instead of O(|reached|·deg), so
    total work over the run is O(E) (each edge relaxes once per distance
    improvement of its source) rather than O(D·E) on a diameter-D graph —
    at web scale (D≈20-30) that is the difference between 1× and ~20× the
    edge traffic. A stable node's re-offer can never beat the min its
    neighbors already took the round after it last changed, so per-round
    dist values are IDENTICAL to whole-set relaxation (the fixed-k
    unrolled SQL oracles replay unchanged).

    The loop state is SPARSE (r6, the landmark_distances layout):
    unreached nodes never appear, so each round's fold join and
    checkpoint cost O(|reached|), not O(n) — a 20% win at the 24M-edge
    bench shape, larger whenever the flood covers a fraction of the
    graph. A full-outer fold APPENDS newly reached rows; per-round dist
    values are identical to the dense formulation (an absent row is
    exactly a NULL-dist row). The dense (id, dist) contract — one row
    per node, NULL = unreachable — is assembled ONCE after the loop.

    Convergence = empty frontier: the count of ``changed`` rows (rows
    entering the NEXT round's relax join) is observed on the round's
    checkpoint and reported as ``frontier_rows`` in the runner metrics.
    """

    def step(state: DataFrame) -> DataFrame:
        # the runner materializes the state every iteration, so the
        # double reference below (frontier + outer join) reads the
        # checkpointed scan twice — no plan blowup.
        frontier = state.filter(F.col("changed")).select(
            F.col("id").alias("u"), "dist"
        )
        # shuffle-hash hints (guide §3.1): the planner's default turns
        # both per-round joins into sort-merge — re-sorting the cached
        # edge table AND the full state every round. Hashing the small
        # side (the frontier, then the frontier-sized offer table)
        # keeps both probes sort-free; min-gather results are
        # join-strategy-independent.
        relaxed = (
            rel.join(frontier.hint("shuffle_hash"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nbr_dist"))
        )
        return state.join(relaxed.hint("shuffle_hash"), "id", "full").select(
            "id",
            F.least(F.col("dist"), F.col("nbr_dist")).alias("dist"),
            (
                F.col("nbr_dist").isNotNull()
                & (F.col("dist").isNull() | (F.col("nbr_dist") < F.col("dist")))
            ).alias("changed"),
        )

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=0.5,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(init.withColumn("changed", F.lit(True)), step, *frontier_scalars())
    # dense contract fill: one row per node, NULL dist = unreachable
    state = ids.join(
        res.state.select("id", "dist").hint("shuffle_hash"), "id", "left"
    ).localCheckpoint(eager=True)
    rel.unpersist()
    ids.unpersist()
    return PregelResult(
        state=state, iterations=res.iterations, converged=res.converged,
        metrics=res.metrics,
    )


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int] | DataFrame,
    nodes: DataFrame | None = None,
    directed: bool = False,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, …) → (id, dist) with dist = min #hops (long) from
    any source id; NULL = unreachable within max_iterations."""
    src_ids = _source_ids(spark, sources)
    ids = _node_ids(edges, nodes)
    rel = (
        _unweighted_rel(edges, directed)
        .withColumn("w", F.lit(1).cast("long"))
        .cache()  # already hash(u)-partitioned by _unweighted_rel
    )
    rel.count()
    # sparse init: source rows only (semi join keeps the old behavior of
    # dropping sources outside the node universe)
    init = src_ids.join(ids, "id", "left_semi").withColumn(
        "dist", F.lit(0).cast("long")
    )
    return _min_plus_loop(
        spark, rel, ids, init, max_iterations,
        checkpoint_dir, checkpoint_interval,
    )


def landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: list[int] | DataFrame,
    directed: bool = False,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """Hop distances from EACH of K landmarks as one composite-key
    frontier flood: state rows are reached ``(id, landmark, dist,
    changed)`` pairs, so the K BFS floods share every edge scan and
    every shuffle instead of running K separate jobs — the standard
    distance-oracle / closeness-sampling building block for web graphs
    (estimate d(u,v) ≤ min_L d(u,L)+d(L,v); closeness ≈ mean landmark
    distance). State is SPARSE: unreached (id, landmark) pairs simply
    never appear, so per-round traffic is the composite frontier, and
    memory is Σ reached pairs, not n·K up front.

    Returns ``state`` = (id, landmark, dist) for reached pairs only.

    Skew note: the gather groups on the composite (id, lm) key, so a hub
    node reached by all K landmarks spreads across K shuffle keys — the
    composite key is itself a K-way salt on hot ids, and a hub LANDMARK
    is just K floods' worth of ordinary frontier traffic. The residual
    hot key is a hub id in round 1 (frontier = the landmarks themselves);
    the map-side partial min bounds that at one row per upstream
    partition. ``checkpoint_dir`` enables durable resume via the runner
    (parity with :func:`bfs_distances`).
    """
    rel = _unweighted_rel(edges, directed).cache()  # hash(u)-partitioned
    rel.count()
    # restrict landmarks to the graph's node universe — a landmark id
    # absent from the edge set must not emit a phantom (lm, lm, 0) row
    # (matches per-source bfs_distances, whose ids join drops it, and
    # the recursive-CTE oracle, which seeds from edge endpoints)
    node_ids = (
        rel.select(F.col("u").alias("lm"))
        .unionByName(rel.select(F.col("v").alias("lm")))
        .distinct()
    )
    lms = (
        _source_ids(spark, landmarks).select(F.col("id").alias("lm")).distinct()
        .join(node_ids, "lm", "left_semi")
    )

    init = lms.select(
        F.col("lm").alias("id"),
        "lm",
        F.lit(0).cast("long").alias("dist"),
        F.lit(True).alias("changed"),
    )

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter(F.col("changed")).select(
            F.col("id").alias("u"), "lm", "dist"
        )
        offers = (
            rel.join(frontier, "u")
            .groupBy(F.col("v").alias("id"), "lm")
            .agg(F.min(F.col("dist") + F.lit(1)).alias("nd"))
        )
        # full outer: offers for never-reached (id, lm) pairs APPEND new
        # state rows (sparse growth); existing rows fold min
        improved = F.col("nd").isNotNull() & (
            F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
        )
        return state.join(offers, ["id", "lm"], "full").select(
            "id",
            "lm",
            F.least(F.col("dist"), F.col("nd")).alias("dist"),
            improved.alias("changed"),
        )

    runner = PregelRunner(
        spark, max_iterations=max_iterations, tol=0.5,
        checkpoint_dir=checkpoint_dir, checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(init, step, *frontier_scalars())
    state = res.state.select("id", F.col("lm").alias("landmark"), "dist")
    rel.unpersist()
    return PregelResult(
        state=state, iterations=res.iterations, converged=res.converged,
        metrics=res.metrics,
    )


def delta_stepping_sssp(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int] | DataFrame,
    delta: float,
    weight_col: str = "weight",
    nodes: DataFrame | None = None,
    directed: bool = False,
    max_rounds: int = 1000,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> PregelResult:
    """Meyer & Sanders delta-stepping SSSP (the measured escalation path
    for heavy-tailed weights — BENCH/DELTA_STEPPING.md).

    Edges are split ONCE into light (w ≤ Δ) and heavy (w > Δ), both
    cached. Buckets of width Δ are processed in order: within bucket b,
    light edges relax to fixpoint over the frontier restricted to
    ``dist < (b+1)Δ`` (the same join + groupBy(min) round as
    :func:`sssp_distances`); when the bucket drains, heavy edges from
    its settled nodes relax ONCE (a heavy relaxation lands at
    ``dist + w > (b+1)Δ``, so the closed bucket never reopens). A node
    can only be re-relaxed by light chains inside one Δ window, bounding
    re-relaxation that plain Bellman-Ford pays across the whole weight
    range. Results are identical to :func:`sssp_distances`
    (golden-tested); per-round metrics carry ``bucket`` and
    ``frontier_rows``.

    Each round is one Spark action, the eager checkpoint of the new
    state; its two driver scalars — the round's ``frontier_rows`` and the
    minimum pending distance that picks the next bucket — ride that
    action as observed aggregates. Only the first round, from the
    initial or resumed state, runs its own min. State is (id, dist,
    changed) where ``changed`` marks PENDING nodes — improved since
    they last emitted.

    **Checkpoint/resume** (same contract as the PregelRunner ops): with
    ``checkpoint_dir`` set, every ``checkpoint_interval``-th round writes
    a durable :class:`~plwordnet_spark.storage.snapshots.SnapshotStore`
    snapshot of the (id, dist, changed) state — the round's bucket/phase
    metrics land in the manifest — and the final state is always
    snapshotted on exit. ``resume=True`` restarts from the latest
    committed snapshot instead of the sources: the outer loop re-derives
    the active bucket from the minimum pending distance, so a run killed
    mid-bucket (even mid-light-fixpoint) continues exactly where the
    snapshot left it — no bucket/phase cursor needs persisting. Without
    ``checkpoint_dir`` the per-round ``localCheckpoint`` truncates
    lineage in memory only (fast, not fault-tolerant).
    """
    if delta <= 0:
        raise ValueError(f"delta must be > 0, got {delta}")
    store = SnapshotStore(spark, checkpoint_dir) if checkpoint_dir else None
    src_ids = _source_ids(spark, sources)
    ids = _node_ids(edges, nodes)

    rel = _weighted_rel(edges, weight_col, directed)
    # the light/heavy filters preserve _weighted_rel's hash(u) layout, so
    # no re-exchange is needed on either slice
    light = rel.filter(F.col("w") <= F.lit(delta)).cache()
    heavy = rel.filter(F.col("w") > F.lit(delta)).cache()
    light.count()
    n_heavy = heavy.count()

    metrics: list[dict] = []
    rounds = 0
    converged = False
    pending_heavy_bucket: int | None = None
    resumed = None
    if resume:
        if store is None:
            raise ValueError("resume requires a checkpoint_dir")
        resumed = store.latest()
    if resumed is not None:
        snap_state, entry = resumed
        # the re-read parquet frame is already lineage-free; the loop's
        # min-pending scan re-derives the active bucket from it
        state = snap_state.select("id", "dist", "changed")
        rounds = int(entry["iteration"])
        # drain-round kill: the snapshot caught the bucket's light
        # fixpoint just emptied (frontier 0) but BEFORE its heavy relax.
        # The drained nodes are settled (changed=False), so the outer
        # loop would never re-offer them — the pending heavy relax must
        # run first or its targets silently keep worse/NULL distances
        # (running it is idempotent: re-applied offers fold the same min
        # and set no changed flags).
        m = entry.get("metrics", {})
        if (
            n_heavy > 0
            and m.get("phase") == "light"
            and m.get("frontier_rows") == 0
            and m.get("bucket") is not None
        ):
            pending_heavy_bucket = int(m["bucket"])
    else:
        state = (
            ids.join(src_ids.withColumn("dist", F.lit(0.0)), "id", "left")
            .select("id", "dist", F.col("dist").isNotNull().alias("changed"))
            .localCheckpoint(eager=True)
        )

    def _snapshot(checkpointed: DataFrame, entry: dict) -> None:
        """Durable resume point every checkpoint_interval rounds. Writes
        the canonical 3-column projection FROM the already-materialized
        localCheckpoint (one cheap scan, no recompute) and keeps looping
        on the in-memory frame — the snapshot is for recovery, not the
        live state (avoids leaking the checkpoint RDD behind a re-read)."""
        if store is not None and rounds % checkpoint_interval == 0:
            store.write(checkpointed.select("id", "dist", "changed"), rounds, entry)
            # ≥2 retained: PregelRunner parity (audit trail of the prior
            # resume point while the newest commit is in flight)
            store.prune(keep_last=2)

    def _materialize(new_state: DataFrame, frontier: Column) -> tuple[DataFrame, dict]:
        """The round's one action: checkpoint ``new_state``, observing
        its ``frontier`` row count and its minimum pending distance."""
        obs = Observation()
        checkpointed = _checkpoint(new_state.observe(
            obs,
            F.count_if(frontier).alias("frontier_rows"),
            F.min(F.when(F.col("changed"), F.col("dist"))).alias("min_pending"),
        ))
        return checkpointed, obs.get

    def _relax(frontier_filter, edge_table, clear_emitted: bool) -> DataFrame:
        """One synchronous relax round: emit from changed∩filter rows,
        fold min offers into state, recompute pending flags."""
        frontier = state.filter(F.col("changed") & frontier_filter).select(
            F.col("id").alias("u"), "dist"
        )
        relaxed = (
            edge_table.join(frontier, "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nbr_dist"))
        )
        improved = F.col("nbr_dist").isNotNull() & (
            F.col("dist").isNull() | (F.col("nbr_dist") < F.col("dist"))
        )
        # emitted rows settle (flag cleared) unless improved again this
        # round; non-emitted pending rows keep their flag for their bucket
        pending_kept = F.col("changed") & ~frontier_filter if clear_emitted else F.col("changed")
        return state.join(relaxed, "id", "left").select(
            "id",
            F.least(F.col("dist"), F.col("nbr_dist")).alias("dist"),
            (improved | pending_kept).alias("changed"),
        )

    def _heavy_round(bucket: int) -> float | None:
        """One heavy relax from the drained bucket's settled nodes;
        mutates state/rounds/metrics and returns the minimum pending
        distance after it. Settled rows have changed=False, so the whole
        settled window is treated as the frontier."""
        nonlocal state, rounds
        rounds += 1
        bound = F.lit((bucket + 1) * delta)
        settled = (F.col("dist") >= F.lit(bucket * delta)) & (F.col("dist") < bound)
        frontier = state.filter(settled).select(F.col("id").alias("u"), "dist")
        relaxed = (
            heavy.join(frontier, "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nbr_dist"))
        )
        improved = F.col("nbr_dist").isNotNull() & (
            F.col("dist").isNull() | (F.col("nbr_dist") < F.col("dist"))
        )
        # frontier_rows = actual heavy relaxations (rows improved by
        # THIS phase), not the count of all still-pending rows
        new_state, seen = _materialize(
            state.join(relaxed, "id", "left").select(
                "id",
                F.least(F.col("dist"), F.col("nbr_dist")).alias("dist"),
                (improved | F.col("changed")).alias("changed"),
                improved.alias("_improved"),
            ),
            F.col("_improved"),
        )
        relaxed_rows = seen["frontier_rows"]
        entry = {"iteration": rounds, "bucket": bucket, "phase": "heavy",
                 "frontier_rows": relaxed_rows, "delta": float(relaxed_rows)}
        metrics.append(entry)
        _snapshot(new_state, entry)
        state.unpersist()
        # keep the CHECKPOINTED frame as state (so the next round's
        # unpersist releases it); the stray _improved column is
        # dropped by the next _relax select / the final projection
        state = new_state
        return seen["min_pending"]

    if pending_heavy_bucket is not None and rounds < max_rounds:
        # resume landed on a drain-round snapshot: finish the killed
        # bucket's heavy phase before re-entering the outer loop
        min_pending = _heavy_round(pending_heavy_bucket)
    elif rounds < max_rounds:
        min_pending = state.filter("changed").agg(F.min("dist")).first()[0]
    while rounds < max_rounds:
        # next bucket = floor(min pending dist / Δ); the minimum
        # pending distance is final (no smaller pending node exists
        # to improve it), so the bucket choice is safe
        if min_pending is None:
            converged = True
            break
        bucket = int(min_pending // delta)
        in_bucket = F.col("dist") < F.lit((bucket + 1) * delta)
        # inner: light-edge fixpoint within the bucket
        while rounds < max_rounds:
            rounds += 1
            new_state, seen = _materialize(
                _relax(in_bucket, light, clear_emitted=True), F.col("changed") & in_bucket
            )
            active, min_pending = seen["frontier_rows"], seen["min_pending"]
            entry = {"iteration": rounds, "bucket": bucket, "phase": "light",
                     "frontier_rows": active, "delta": float(active)}
            metrics.append(entry)
            _snapshot(new_state, entry)
            state.unpersist()
            state = new_state
            if active == 0:
                break
        # max_rounds is an exact budget (the kill point for the
        # resume contract): stop before the heavy relax overshoots
        if rounds >= max_rounds:
            break
        # bucket drained: one heavy relax from its settled nodes —
        # skipped entirely when the graph has no heavy edges (e.g. Δ
        # above the max weight, where delta-stepping degrades to
        # plain frontier Bellman-Ford)
        if n_heavy == 0:
            continue
        min_pending = _heavy_round(bucket)
    if store is not None:
        # final durable snapshot so resume() always sees the end
        # state, whether the loop converged or hit the round budget
        last = store.manifest()[-1] if store.manifest() else None
        if last is None or last["iteration"] != rounds:
            store.write(
                state.select("id", "dist", "changed"),
                rounds,
                metrics[-1] if metrics else {"converged": converged},
            )
    final = state.select("id", "dist")
    light.unpersist()
    heavy.unpersist()
    ids.unpersist()
    return PregelResult(
        state=final, iterations=rounds, converged=converged, metrics=metrics
    )


def sssp_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int] | DataFrame,
    weight_col: str = "weight",
    nodes: DataFrame | None = None,
    directed: bool = False,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """Weighted shortest paths (double distances); non-negative weights
    assumed. Parallel edges collapse to their minimum weight. Same
    ``directed=False`` default as :func:`bfs_distances` — switching
    between the two on one edge table keeps the same graph."""
    src_ids = _source_ids(spark, sources)
    ids = _node_ids(edges, nodes)
    rel = _weighted_rel(edges, weight_col, directed).cache()  # hash(u)-partitioned
    rel.count()
    init = src_ids.join(ids, "id", "left_semi").withColumn("dist", F.lit(0.0))
    return _min_plus_loop(
        spark, rel, ids, init, max_iterations,
        checkpoint_dir, checkpoint_interval,
    )


def bfs_tree(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int] | DataFrame,
    directed: bool = False,
    max_iterations: int = 100,
) -> PregelResult:
    """Shortest-path TREE: (id, dist, parent) with a deterministic
    parent — the MINIMUM-id predecessor at dist−1 (sources and
    unreached nodes carry NULL parent). Path reconstruction (why is
    this page N clicks from the seed? walk parents to the root) is the
    debugging/provenance counterpart of :func:`bfs_distances`; a
    crawl-side "how did we get here" query.

    Cost: one :func:`bfs_distances` run + ONE extra edge⋈dist join and
    a min-gather — the parent choice is a pure function of the distance
    labels, so it replays in SQL (min predecessor over the recursive-
    CTE distances) and never perturbs the BFS itself. Walking a path
    back is driver-side (path-length joins against the parent table),
    which is the right trade at web scale: the tree is stored once,
    paths are reconstructed per query.
    """
    res = bfs_distances(
        spark, edges, sources, directed=directed, max_iterations=max_iterations
    )
    d = res.state
    rel = _unweighted_rel(edges, directed)
    preds = (
        rel.join(
            d.select(F.col("id").alias("u"), F.col("dist").alias("du")), "u"
        )
        .join(d.select(F.col("id").alias("v"), F.col("dist").alias("dv")), "v")
        .filter(F.col("dv") == F.col("du") + 1)
        .groupBy(F.col("v").alias("id"))
        .agg(F.min("u").alias("parent"))
    )
    out = d.join(preds, "id", "left").select("id", "dist", "parent")
    return PregelResult(
        state=out,
        iterations=res.iterations,
        converged=res.converged,
        metrics=res.metrics,
    )
