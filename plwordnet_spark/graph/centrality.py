"""Distance-based centralities (harmonic, closeness) over web graphs.

Shortest-path centralities rank pages by how close they sit to the rest
of the graph — harmonic centrality in particular is the standard
"importance without PageRank's random surfer" measure for web crawls
(Boldi & Vigna, "Axioms for centrality", Internet Math 2014) and is what
the Common Crawl host-ranking releases publish alongside PageRank.

Definitions over hop distances d(u, v):

* harmonic(v)  = Σ_{u≠v, d<∞} 1 / d(u, v)       — sums only reached
  pairs, so disconnected graphs need no special-casing.
* closeness(v) = (r(v) − 1)² / (Σ_{u} d(u, v) · (n − 1)) — the
  Wasserman-Faust component-normalized form (networkx's
  ``wf_improved``), where r(v) is the size of v's reachable set and n
  the graph's node count; isolated-pair-free and comparable across
  components.

Exact computation is all-sources BFS. The engine already has the right
primitive: :func:`plwordnet_spark.graph.bfs.landmark_distances` runs K
BFS floods as ONE composite-key Pregel loop — every edge scan and every
shuffle shared across sources (measured 4.61× over sequential floods at
K=8, BENCH/LANDMARKS.md). Exact mode feeds it ALL node ids; at web
scale you pass ``sample`` landmarks instead and the same estimator
becomes the standard pivot-sampling approximation (Eppstein-Wang):
centralities are then computed from the K-landmark distance vectors and
scaled by n/K. Both modes are the same job shape — the sparse
(id, landmark, dist) composite state — so the exact small-graph oracle
check certifies the code path the sampled web-scale run uses.

Cost model at 10^12 edges: exact is Θ(n) floods and exists for tests /
small subgraphs only; sampled-K keeps the state at Σ reached pairs ≤
n·K rows, i.e. the same memory envelope as K PageRank vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.bfs import landmark_distances
from plwordnet_spark.graph.pregel import PregelResult, PregelRunner

__all__ = [
    "betweenness_centrality",
    "closeness_centrality",
    "eigenvector_centrality",
    "harmonic_centrality",
    "eccentricity",
    "radius_diameter",
]


def _all_node_ids(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list[int] | None,
    directed: bool,
    max_iterations: int,
) -> DataFrame:
    if sources is None:
        sources = _all_node_ids(edges)
    res = landmark_distances(
        spark, edges, sources, directed=directed, max_iterations=max_iterations
    )
    # distances FROM each landmark; for centrality of v we need d(u, v)
    # over sources u — on the undirected default both readings coincide,
    # for directed graphs landmark_distances flooding edge direction
    # yields d(landmark → id), i.e. exactly Σ over in-paths at `id`.
    return res.state.filter(F.col("dist") > 0)


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list[int] | None = None,
    directed: bool = False,
    max_iterations: int = 100,
    scale: float | None = None,
) -> DataFrame:
    """(id, harmonic) — Σ 1/d over reached source-distance pairs.

    ``sources=None`` = exact (all nodes — test/small-graph mode);
    a K-row sources frame = Eppstein-Wang sampled estimate, which you
    typically rescale by ``scale = n / K``."""
    d = _distances(spark, edges, sources, directed, max_iterations)
    h = d.groupBy("id").agg(
        F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic")
    )
    if scale is not None:
        h = h.select("id", (F.col("harmonic") * F.lit(scale)).alias("harmonic"))
    return h


def closeness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list[int] | None = None,
    directed: bool = False,
    max_iterations: int = 100,
) -> DataFrame:
    """(id, closeness) — Wasserman-Faust component-normalized closeness.

    Exact when ``sources=None``; with sampled sources the per-node
    reachable count r(v) is estimated from the sample too, so the
    formula degrades gracefully to the sampled estimator."""
    d = _distances(spark, edges, sources, directed, max_iterations)
    n_nodes = _all_node_ids(edges).count()
    agg = d.groupBy("id").agg(
        F.sum("dist").alias("total_dist"),
        F.count("*").alias("n_reached_others"),
    )
    r_minus_1 = F.col("n_reached_others").cast("double")
    return agg.select(
        "id",
        (
            (r_minus_1 * r_minus_1)
            / (F.col("total_dist") * F.lit(float(n_nodes - 1)))
        ).alias("closeness"),
    )


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    max_iterations: int = 100,
    tol: float = 1e-8,
    weighted: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """Eigenvector centrality: the dominant left eigenvector of the
    adjacency matrix — x_{t+1} = normalize(Aᵀ x_t), the un-damped,
    un-degree-normalized member of the PageRank/Katz/HITS family
    (Bonacich 1972). Completes the centrality set: score flows along
    in-links weighted by the SOURCE's own score, with no teleport
    (PageRank) and no additive beta (Katz).

    Per iteration: one rank join on src + one groupBy(dst) gather with
    map-side partial aggregation, then an L2 normalize via a broadcast
    one-row aggregate — the exact PageRank shuffle shape, so every
    skew/scale property measured there (BENCH/SKEW.md) carries over.
    ``tol=0.0`` runs exactly ``max_iterations`` (fixed-k, what the SQL
    oracle replays). Convergence requires the usual primitivity caveat
    (reducible/periodic graphs may oscillate — the fixed-k contract
    sidesteps it; callers wanting guaranteed convergence damp via
    ``pagerank`` instead)."""
    w = F.col("weight") if weighted and "weight" in edges.columns else F.lit(1.0)
    links = edges.select("src", "dst", w.cast("double").alias("w")).filter(
        "src != dst"
    ).repartition("src").cache()
    ids = (
        links.select(F.col("src").alias("id"))
        .unionByName(links.select(F.col("dst").alias("id")))
        .distinct()
        .repartition("id")
        .cache()
    )
    n_nodes = ids.count()
    if n_nodes == 0:
        links.unpersist()
        return PregelResult(
            state=spark.createDataFrame([], "id long, score double"),
            iterations=0,
            converged=True,
        )
    links.count()
    init = ids.select("id", F.lit(1.0 / n_nodes).alias("score"))

    def step(state: DataFrame) -> DataFrame:
        gathered = (
            state.join(links, state["id"] == links["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("score") * F.col("w")).alias("raw"))
        )
        filled = ids.join(gathered, "id", "left").select(
            "id", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        norm = filled.agg(F.sqrt(F.sum(F.col("raw") ** 2)).alias("_n"))
        # the previous score rides along as s0 for the L1 scalar
        return (
            filled.crossJoin(F.broadcast(norm))
            .select(
                "id",
                F.when(F.col("_n") > 0, F.col("raw") / F.col("_n"))
                .otherwise(F.lit(0.0))
                .alias("score"),
            )
            .join(state.withColumnRenamed("score", "s0"), "id", "left")
        )

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=(n_nodes * tol) if tol else None,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    result = runner.run(
        init, step, [F.sum(F.abs(F.col("score") - F.col("s0"))).alias("l1")],
        lambda o: o["l1"],
    )
    ids.unpersist()
    links.unpersist()
    return PregelResult(
        state=result.state,
        iterations=result.iterations,
        converged=result.converged,
        metrics=result.metrics,
    )


def betweenness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list[int] | None = None,
    directed: bool = True,
    max_depth: int = 64,
) -> DataFrame:
    """(id, betweenness) — Brandes betweenness over hop-shortest paths,
    exact for the given source set: Σ_{s∈S} δ_s(v) with the classic
    backward dependency accumulation (Brandes, J. Math. Sociol. 2001).
    ``sources=None`` = all nodes (exact betweenness; test/small-graph
    mode). A K-row sample is the standard web-scale estimator
    (Brandes-Pich pivots): rescale by n/K outside if you need the
    unbiased magnitude — the RANKING needs no rescale.

    Reference parity: the reference exposes shortest-path analytics
    over its relation graph through NetworkX-style accessors
    (plwordnet_handler/base/structure/graph.py); this is the
    web-scale restatement of ``nx.betweenness_centrality``
    (normalized=False, endpoints excluded) for directed hop graphs.

    Execution shape — two level-synchronous sweeps sharing one cached
    edge relation, both keyed on the composite (source, node) pair
    (the landmark-BFS machinery, so K floods share every edge scan):

    * forward: level L+1 = edge-join of level L frontier, aggregated
      per (s, v) with σ summed over level-L predecessors, anti-joined
      against the settled set — per-level state is SPARSE (reached
      pairs only) and each level is cached because the backward sweep
      re-reads it.
    * backward: δ_v = Σ_{v→w, level(w)=level(v)+1} σ_v/σ_w·(1+δ_w),
      one join per level from the deepest up; betweenness(v) =
      Σ_{levels ≥ 1} δ(s, v) folded map-side by id.

    Cost: 2·diameter shuffle rounds; peak state Σ reached (s, v)
    pairs ≤ n·|S| — the same envelope as |S| PageRank vectors. Skew:
    the composite key spreads any hub across |S| shuffle keys (see
    landmark_distances' skew note).
    """
    rel = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    if not directed:
        rel = rel.unionByName(
            rel.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    rel = rel.distinct().repartition("u").cache()
    rel.count()

    nodes = (
        rel.select(F.col("u").alias("id"))
        .unionByName(rel.select(F.col("v").alias("id")))
        .distinct()
    )
    if sources is None:
        srcs = nodes.select(F.col("id").alias("s"))
    elif isinstance(sources, DataFrame):
        srcs = sources.select(F.col(sources.columns[0]).alias("s")).join(
            nodes.select(F.col("id").alias("s")), "s", "left_semi"
        )
    else:
        srcs = spark.createDataFrame(
            [(int(x),) for x in sources], "s long"
        ).join(nodes.select(F.col("id").alias("s")), "s", "left_semi")

    # ---- forward sweep: per-level (s, id, sigma), sigma = #shortest paths
    lvl0 = srcs.select(
        "s", F.col("s").alias("id"), F.lit(1.0).alias("sigma")
    ).cache()
    levels = [lvl0]
    settled = lvl0.select("s", "id")
    cur = lvl0
    while len(levels) <= max_depth:
        offers = (
            rel.join(cur.select(F.col("id").alias("u"), "s", "sigma"), "u")
            .groupBy("s", F.col("v").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = offers.join(settled, ["s", "id"], "left_anti").cache()
        if nxt.isEmpty():
            nxt.unpersist()
            break
        levels.append(nxt)
        settled = settled.unionByName(nxt.select("s", "id"))
        cur = nxt

    # ---- backward sweep: dependency accumulation from the deepest level
    depth = len(levels) - 1
    delta_next: DataFrame | None = None  # δ of level L+1 (None ⇒ all zero)
    parts: list[DataFrame] = []
    # δ at level 0 (the sources) is excluded by Brandes and consumed by
    # nothing shallower, so the sweep stops at level 1
    for L in range(depth - 1, 0, -1):
        wtab = levels[L + 1].select(
            "s", F.col("id").alias("v"), F.col("sigma").alias("sigma_w")
        )
        if delta_next is not None:
            wtab = wtab.join(
                delta_next.select("s", F.col("id").alias("v"), "delta"),
                ["s", "v"],
                "left",
            )
        else:
            wtab = wtab.withColumn("delta", F.lit(0.0))
        contrib = (
            levels[L]
            .select(F.col("id").alias("u"), "s", "sigma")
            .join(rel, "u")
            .join(wtab, ["s", "v"])
            .groupBy("s", F.col("u").alias("id"))
            .agg(
                F.sum(
                    F.col("sigma")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.coalesce("delta", F.lit(0.0)))
                ).alias("delta")
            )
        )
        # localCheckpoint truncates the per-level join lineage — without
        # it the deepest-path plan nests `depth` joins deep
        delta_next = (
            levels[L]
            .select("s", "id")
            .join(contrib, ["s", "id"], "left")
            .select("s", "id", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )
        parts.append(delta_next)

    if parts:
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p)
        bc = acc.groupBy("id").agg(F.sum("delta").alias("betweenness"))
    else:
        bc = nodes.select("id", F.lit(0.0).alias("betweenness")).limit(0)
    out = (
        nodes.join(bc, "id", "left")
        .select("id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    )
    # materialize before releasing the cached levels the plan reads
    out = out.localCheckpoint(eager=True)
    for lv in levels:
        lv.unpersist()
    rel.unpersist()
    return out


def eccentricity(
    spark: SparkSession,
    edges: DataFrame,
    directed: bool = False,
    max_iterations: int = 100,
) -> DataFrame:
    """(id, ecc): each node's eccentricity — the maximum hop distance
    to any node that reaches it (within its component). Radius =
    min(ecc), diameter = max(ecc), the center is the argmin set and
    the periphery the argmax set; the seed-placement signal for
    landmark selection (central landmarks tighten the d(u,L)+d(L,v)
    distance-oracle bound) and the exact counterpart of the effective
    diameter q_anf_hll estimates.

    Same all-sources composite BFS as harmonic/closeness (every edge
    scan shared across sources, diameter-many shuffles TOTAL), then one
    histogram-shrinking max per node. Exact all-sources is the
    test/small-graph mode; at web scale run the flood from a sample and
    read a lower-bound eccentricity profile, or take two BFS sweeps for
    the classic diameter lower bound.
    """
    d = _distances(spark, edges, None, directed, max_iterations)
    return d.groupBy("id").agg(F.max("dist").alias("ecc"))


def radius_diameter(
    spark: SparkSession,
    edges: DataFrame,
    directed: bool = False,
    max_iterations: int = 100,
) -> DataFrame:
    """One-row graph summary from the eccentricity profile:
    ``(radius, diameter, n_center, n_periphery)``."""
    ecc = eccentricity(spark, edges, directed, max_iterations).cache()
    summary = ecc.agg(
        F.min("ecc").alias("radius"), F.max("ecc").alias("diameter")
    )
    out = (
        ecc.crossJoin(F.broadcast(summary))
        .agg(
            F.first("radius").alias("radius"),
            F.first("diameter").alias("diameter"),
            F.sum(
                F.when(F.col("ecc") == F.col("radius"), 1).otherwise(0)
            ).alias("n_center"),
            F.sum(
                F.when(F.col("ecc") == F.col("diameter"), 1).otherwise(0)
            ).alias("n_periphery"),
        )
    ).localCheckpoint(eager=True)
    ecc.unpersist()
    return out
