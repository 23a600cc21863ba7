"""Macro-structure of a directed link graph: reciprocity, assortativity,
strongly connected components, Broder bow-tie regions, and the
HyperBall-style approximate neighborhood function.

These are the canonical "shape of the web" measurements (Broder et al.,
"Graph structure in the Web", WWW 2000; Boldi/Rosa/Vigna "HyperANF",
WWW 2011): a crawl-scale engine needs them both as reporting outputs and
as pre-flight inputs (e.g. the bow-tie CORE size bounds how far a
PageRank iteration's mass can circulate; reciprocity distinguishes a
link graph from a social graph). The reference keeps its relation graph
fully in memory and answers structure queries with NetworkX-style
traversal (plwordnet_handler/base/structure/graph.py); at 10^11 nodes
every one of these must be a bounded sequence of joins/aggregations.

Scale notes (100 TB design points):

* ``reciprocity`` — one self-join on the (dst, src)-swapped edge table;
  both sides hash-partition on the same composite key, map-side partial
  counts, O(|E|) shuffle once.
* ``degree_assortativity`` — two degree aggregations (map-side partial)
  + two hash joins onto the edge list + a single-pass ``corr``; no
  driver-side state beyond the final scalar.
* ``strongly_connected_components`` — trim + forward min-label coloring
  + backward reachability (the MapReduce coloring algorithm, Orzan-style).
  Both colouring fixpoints run on :class:`PregelRunner`: one action per
  round, whose observed lowered/newly-reached row count is the
  convergence test. The trim/phase loop around them shrinks the active
  subgraph and keeps its own checkpoints. Phases extract at least
  the SCC of every color root per round; on bow-tie-shaped web graphs
  the giant core falls out in the first phase and the tendrils are
  consumed by the O(1)-round trim, which is why coloring is the standard
  distributed SCC choice despite an adversarial worst case (a directed
  path needs O(n) phases — documented, capped by ``max_phases``).
* ``bowtie`` — one SCC run + two multi-source BFS floods (forward from
  CORE, backward from CORE) + one undirected CC run; each flood is the
  same frontier-pruned relax join as
  :func:`plwordnet_spark.graph.bfs.bfs_distances`.
* ``neighborhood_function`` — HyperBall with Spark's native
  HyperLogLog sketch columns (``hll_sketch_agg`` / ``hll_union_agg`` /
  ``hll_union``): per node a fixed 2^lg_k-register sketch of its
  out-ball, per iteration ONE edges⋈state join + ONE grouped sketch
  union, run on :class:`PregelRunner` with N(t) observed on the hop's
  checkpoint — O(|E|) rows shuffled per hop carrying O(2^lg_k)-byte sketch
  payloads, never materializing the quadratic reachability set. This is
  the textbook case for sketches at 100 TB: the exact neighborhood
  function is Θ(n²) pairs, the sketch run is Θ(|E| · diameter).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner, frontier_scalars

__all__ = [
    "reciprocity",
    "degree_assortativity",
    "strongly_connected_components",
    "bowtie",
    "neighborhood_function",
    "NeighborhoodResult",
    "condensation_levels",
]


def reciprocity(edges: DataFrame) -> DataFrame:
    """Edge reciprocity of a directed graph: the fraction of (distinct,
    non-loop) edges (u, v) whose reverse (v, u) is also present.

    Returns a single row ``(n_edges, n_reciprocal, reciprocity)``.
    Implementation: left-semi self-join of the deduplicated edge list
    against its swapped self — both sides shuffle once on the composite
    key, and the semi-join short-circuits per probe row (no fan-out on
    multigraph inputs because the input is deduplicated first).
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    swapped = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(swapped, ["src", "dst"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(F.col("n_reciprocal") / F.col("n_edges"), 8).alias("reciprocity"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Directed out-in degree assortativity: the Pearson correlation,
    over the (distinct, non-loop) edge list, between the source node's
    out-degree and the destination node's in-degree.

    Positive values mean hubs link to hubs (social-graph-like); web
    link graphs are typically near zero or negative. Returns one row
    ``(n_edges, assortativity)``; correlation is computed by Spark's
    single-pass ``corr`` aggregate after two broadcast-eligible degree
    joins. Degrees are counted on the same deduplicated edge list the
    correlation runs over, so the statistic is self-consistent.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    joined = (
        e.join(out_deg, e.src == out_deg.id)
        .drop("id")
        .join(in_deg, e.dst == in_deg.id)
        .drop("id")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(F.corr("out_degree", "in_degree"), 6).alias("assortativity"),
    )


def _fixpoint_min_color(
    spark: SparkSession,
    edges: DataFrame,
    colors: DataFrame,
    max_iters: int,
) -> DataFrame:
    """Propagate ``color`` forward along edges to a fixpoint:
    color(v) <- min(color(v), min over in-neighbors u of color(u)).
    Converges to color(v) = min id over {v} ∪ ancestors(v). Colors only
    decrease, so the round that lowers no color is the fixpoint — the
    lowered-row count rides the runner's checkpoint as an observed
    scalar, no old⋈new join and no second action."""

    def step(state: DataFrame) -> DataFrame:
        incoming = (
            edges.join(state, edges.src == state.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("color").alias("in_color"))
        )
        return state.join(incoming, "id", "left").select(
            "id",
            F.least(F.col("color"), F.coalesce("in_color", F.col("color"))).alias("color"),
            F.coalesce(F.col("in_color") < F.col("color"), F.lit(False)).alias("changed"),
        )

    runner = PregelRunner(spark, max_iterations=max_iters, tol=0.5)
    return runner.run(colors, step, *frontier_scalars()).state


def _fixpoint_reach_root(
    spark: SparkSession,
    edges: DataFrame,
    colored: DataFrame,
    max_iters: int,
) -> DataFrame:
    """Within each color class, mark nodes that can REACH their color
    root (propagate ``reached`` along REVERSED edges from the roots,
    restricted to same-color endpoints). ``reached`` only grows, so the
    round that reaches no new node is the fixpoint — again one observed
    count on the runner's checkpoint."""

    def step(state: DataFrame) -> DataFrame:
        # v reaches root if some out-neighbor w (same color) reaches it
        succ = (
            edges.join(
                state.select(
                    F.col("id").alias("w"), F.col("color").alias("w_color"), "reached"
                ),
                edges.dst == F.col("w"),
            )
            .filter("reached")
            .groupBy(F.col("src").alias("id"), F.col("w_color").alias("color"))
            .agg(F.max("reached").alias("succ_reached"))
        )
        newly = ~F.col("reached") & F.coalesce("succ_reached", F.lit(False))
        return state.join(succ, ["id", "color"], "left").select(
            "id", "color", (F.col("reached") | newly).alias("reached"), newly.alias("changed")
        )

    init = colored.withColumn("reached", F.col("id") == F.col("color"))
    runner = PregelRunner(spark, max_iterations=max_iters, tol=0.5)
    return runner.run(init, step, *frontier_scalars()).state


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_phases: int = 50,
    max_trim_iters: int = 10,
    max_prop_iters: int = 200,
) -> DataFrame:
    """SCCs of a directed graph; returns ``(id, component)`` where
    ``component`` is the MINIMUM node id in the SCC (deterministic,
    oracle-friendly labeling).

    Distributed coloring algorithm, per phase over the still-active
    subgraph:

    1. **Trim** (≤ ``max_trim_iters`` rounds): a node with no active
       in-edges or no active out-edges cannot lie on a cycle — it is a
       singleton SCC. Iterated trimming alone consumes the web graph's
       tendril mass (Broder: ~25% of nodes) in a handful of rounds.
    2. **Forward coloring** to fixpoint: color(v) = min ancestor id.
       All members of one SCC share a color (same ancestor set).
    3. **Backward mark**: nodes that can reach their color root within
       the color class form exactly SCC(root), labeled root — which is
       provably the SCC's own minimum id (any smaller member would be
       an ancestor of the root, contradicting color(root)=root).
    4. Extracted nodes leave the active set; their edges are dropped by
       two semi-joins; repeat.

    Worst case (a directed n-path with trimming disabled) needs O(n)
    phases — ``max_phases`` caps the loop and any still-unresolved
    nodes raise. On bow-tie-shaped graphs phase 1 extracts the giant
    core plus every locally-minimal peripheral SCC; observed phase
    counts on crawl-shaped inputs are single-digit.
    """
    active_edges = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active_nodes = (
        active_edges.select(F.col("src").alias("id"))
        .union(active_edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_active = active_nodes.count()
    resolved: list[DataFrame] = []

    for _phase in range(max_phases):
        if n_active == 0:
            break
        # --- 1. trim: peel acyclic fringe ---------------------------
        for _ in range(max_trim_iters):
            has_out = active_edges.select(F.col("src").alias("id")).distinct()
            has_in = active_edges.select(F.col("dst").alias("id")).distinct()
            cyclic_candidates = has_out.join(has_in, "id", "left_semi")
            trimmed = active_nodes.join(cyclic_candidates, "id", "left_anti")
            n_trimmed = trimmed.count()
            if n_trimmed == 0:
                break
            resolved.append(
                trimmed.select("id", F.col("id").alias("component"))
                .localCheckpoint(eager=True)
            )
            active_nodes = active_nodes.join(
                trimmed, "id", "left_anti"
            ).localCheckpoint(eager=True)
            active_edges = (
                active_edges.join(
                    active_nodes.select(F.col("id").alias("src")), "src", "left_semi"
                )
                .join(
                    active_nodes.select(F.col("id").alias("dst")), "dst", "left_semi"
                )
                .localCheckpoint(eager=True)
            )
            n_active -= n_trimmed
        if n_active == 0:
            break
        # --- 2. forward min-color to fixpoint -----------------------
        colors = active_nodes.select("id", F.col("id").alias("color"))
        colored = _fixpoint_min_color(spark, active_edges, colors, max_prop_iters)
        # --- 3. backward reach-root within color class --------------
        marked = _fixpoint_reach_root(spark, active_edges, colored, max_prop_iters)
        extracted = (
            marked.filter("reached")
            .select("id", F.col("color").alias("component"))
            .localCheckpoint(eager=True)
        )
        n_extracted = extracted.count()
        resolved.append(extracted)
        # --- 4. shrink active subgraph ------------------------------
        active_nodes = active_nodes.join(
            extracted, "id", "left_anti"
        ).localCheckpoint(eager=True)
        active_edges = (
            active_edges.join(
                active_nodes.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .join(active_nodes.select(F.col("id").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_active -= n_extracted

    if n_active > 0:
        raise RuntimeError(
            f"SCC did not resolve {n_active} nodes within {max_phases} phases; "
            "raise max_phases (adversarially deep graphs need more rounds)"
        )
    if not resolved:
        return edges.sparkSession.createDataFrame([], "id long, component long")
    out = resolved[0]
    for part in resolved[1:]:
        out = out.union(part)
    return out


_REGIONS = ("CORE", "IN", "OUT", "TENDRIL", "DISCONNECTED")


def bowtie(
    spark: SparkSession,
    edges: DataFrame,
    scc_result: DataFrame | None = None,
) -> DataFrame:
    """Broder bow-tie decomposition; returns ``(id, region)`` with
    region ∈ CORE | IN | OUT | TENDRIL | DISCONNECTED.

    * CORE — the largest SCC (ties broken by smaller component id),
    * IN — reaches CORE but is outside it (backward BFS flood from all
      core nodes over reversed edges),
    * OUT — reachable from CORE (forward flood),
    * TENDRIL — same weakly-connected component as CORE but none of the
      above (includes Broder's tubes: IN→OUT paths bypassing CORE),
    * DISCONNECTED — a different weak component entirely.

    Cost: one SCC run (or a caller-provided ``scc_result``), two
    multi-source BFS floods via the frontier-pruned relax join of
    :func:`plwordnet_spark.graph.bfs.bfs_distances`, one undirected CC
    run — all O(|E| · diameter) with no quadratic blowup.
    """
    from plwordnet_spark.graph.bfs import bfs_distances
    from plwordnet_spark.graph.components import connected_components

    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    scc = scc_result if scc_result is not None else strongly_connected_components(
        spark, e
    )
    scc = scc.localCheckpoint(eager=True)
    top = (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .limit(1)
    )
    core_ids = scc.join(
        F.broadcast(top.select("component")), "component", "left_semi"
    ).select("id")

    fwd = bfs_distances(spark, e, sources=core_ids, directed=True).state
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = bfs_distances(spark, rev, sources=core_ids, directed=True).state
    wcc = connected_components(spark, e).state  # (id, component)
    core_wcc = wcc.join(
        core_ids.limit(1), "id", "left_semi"
    ).select(F.col("component").alias("core_component"))

    return (
        wcc.join(core_ids.withColumn("is_core", F.lit(True)), "id", "left")
        .join(
            fwd.select("id", F.col("dist").alias("fwd_dist")), "id", "left"
        )
        .join(bwd.select("id", F.col("dist").alias("bwd_dist")), "id", "left")
        .crossJoin(F.broadcast(core_wcc))
        .select(
            "id",
            F.when(F.col("is_core"), F.lit("CORE"))
            .when(F.col("component") != F.col("core_component"), F.lit("DISCONNECTED"))
            .when(F.col("bwd_dist").isNotNull(), F.lit("IN"))
            .when(F.col("fwd_dist").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("TENDRIL"))
            .alias("region"),
        )
    )


@dataclass
class NeighborhoodResult:
    """``counts``: DataFrame (distance, est_pairs) — est_pairs is the
    HLL estimate of Σ_v |ball_out(v, distance)|, i.e. the number of
    ordered pairs within that distance (including v itself at 0).
    ``effective_diameter``: smallest t with N(t) ≥ quantile · N(max),
    interpolated per HyperANF convention (linear between t-1 and t)."""

    counts: DataFrame
    effective_diameter: float
    iterations: int


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    max_distance: int = 32,
    lg_k: int = 14,
    quantile: float = 0.9,
) -> NeighborhoodResult:
    """HyperBall (Boldi/Vigna): per-node HyperLogLog sketches of the
    growing out-ball, iterated until no estimate changes or
    ``max_distance`` hops.

    state(v) = HLL sketch of ball(v, t);
    ball(v, t+1) = ball(v, t) ∪ ⋃_{v→w} ball(w, t) — one edges⋈state
    hash join + one grouped ``hll_union_agg`` per hop, merged back into
    the running state with the scalar ``hll_union``. The per-hop
    aggregate N(t) = Σ_v estimate(state(v)) is the only driver-side
    value; it rides the hop's one action as an observed scalar. Sketch width 2^lg_k registers bounds the relative error at
    ≈ 1.04/√2^lg_k (0.8% at the default 14) independent of graph size —
    the whole point at 10^11 nodes, where the exact neighborhood
    function is a Θ(n²) object.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    init = nodes.groupBy("id").agg(F.hll_sketch_agg("id", lg_k).alias("sk"))

    def step(state: DataFrame) -> DataFrame:
        succ = (
            e.join(state, e.dst == state.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.hll_union_agg("sk").alias("succ_sk"))
        )
        return state.join(succ, "id", "left").select(
            "id", F.coalesce(F.hll_union("sk", "succ_sk"), F.col("sk")).alias("sk")
        )

    # N(t) and the node count N(0) ride the hop's checkpoint; the loop
    # stops on the first hop whose N(t) equals N(t-1)
    scalars = [
        F.sum(F.hll_sketch_estimate("sk")).alias("n"),
        F.count(F.lit(1)).alias("n_nodes"),
    ]
    prev: list[int] = []

    def delta(observed: dict) -> float:
        total = int(observed["n"])
        changed = total != (prev[-1] if prev else observed["n_nodes"])
        prev.append(total)
        return float(changed)

    runner = PregelRunner(spark, max_iterations=max_distance, tol=0.5)
    res = runner.run(init, step, scalars, delta)
    n_nodes = res.metrics[0]["n_nodes"] if res.metrics else res.state.count()
    history = [(0, n_nodes)] + [(m["iteration"], int(m["n"])) for m in res.metrics]

    final_total = history[-1][1]
    threshold = quantile * final_total
    eff = float(history[-1][0])
    for (t, n), (t_prev, n_prev) in zip(history[1:], history[:-1]):
        if n >= threshold:
            # linear interpolation inside the crossing hop (HyperANF §5)
            if n > n_prev:
                eff = t_prev + (threshold - n_prev) / (n - n_prev)
            else:
                eff = float(t)
            break
    counts = spark.createDataFrame(
        [(t, n) for t, n in history], "distance int, est_pairs long"
    )
    return NeighborhoodResult(
        counts=counts,
        effective_diameter=round(max(eff, 0.0), 4),
        iterations=history[-1][0],
    )


def condensation_levels(
    spark: SparkSession,
    edges: DataFrame,
    scc_result: DataFrame | None = None,
    max_iterations: int = 200,
) -> DataFrame:
    """Topological (longest-path) levels of the SCC condensation DAG;
    returns ``(component, level, n_nodes)``.

    Contracting each SCC to one vertex yields a DAG (the condensation);
    ``level`` is the length of the LONGEST path from any source
    component — the canonical layering of a link graph: level 0 is the
    un-pointed-to frontier (bow-tie IN fringe plus isolated material),
    deeper levels are farther downstream of everything. Crawl
    schedulers use it as "link depth" independent of any seed choice,
    and it is the scheduling order for any condensation-DAG dataflow
    (level k depends only on < k).

    Shape: one SCC run (or a caller-supplied ``scc_result``), two hash
    joins to contract the edge list (condensation edges are DISTINCT
    component pairs — usually orders of magnitude smaller than |E|),
    then a max-plus frontier flood identical in traffic to
    :func:`~plwordnet_spark.graph.bfs.bfs_distances`: per round one
    frontier⋈cedges join + one groupBy(max) with map-side partial agg.
    Convergence in condensation-depth rounds is guaranteed (DAG, levels
    only grow, bounded by depth); a cycle can only arise from a wrong
    ``scc_result``, which ``max_iterations`` turns into a loud error.
    """
    comp = (
        scc_result
        if scc_result is not None
        else strongly_connected_components(spark, edges)
    ).select("id", "component").cache()

    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    cedges = (
        e.join(comp.withColumnRenamed("id", "src"), "src")
        .select(F.col("component").alias("u"), "dst")
        .join(comp.withColumnRenamed("id", "dst"), "dst")
        .select("u", F.col("component").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
        .cache()
    )
    cedges.count()

    init = (
        comp.select(F.col("component").alias("id"))
        .distinct()
        .select(
            "id",
            F.lit(0).cast("long").alias("lvl"),
            F.lit(True).alias("changed"),
        )
    )

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter(F.col("changed")).select(
            F.col("id").alias("u"), "lvl"
        )
        offers = (
            cedges.join(frontier, "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.max(F.col("lvl") + F.lit(1)).alias("nl"))
        )
        improved = F.col("nl").isNotNull() & (F.col("nl") > F.col("lvl"))
        return state.join(offers, "id", "left").select(
            "id",
            F.greatest(F.col("lvl"), F.col("nl")).alias("lvl"),
            improved.alias("changed"),
        )

    runner = PregelRunner(spark, max_iterations=max_iterations, tol=0.5)
    res = runner.run(init, step, *frontier_scalars())
    if not res.converged:
        raise RuntimeError(
            "condensation did not stabilize within max_iterations — "
            "the supplied scc_result does not contract all cycles"
        )
    levels = res.state.select(F.col("id").alias("component"), "lvl")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
    out = levels.join(sizes, "component").select(
        "component", F.col("lvl").alias("level"), "n_nodes"
    )
    out = out.localCheckpoint(eager=True)
    cedges.unpersist()
    comp.unpersist()
    return out
