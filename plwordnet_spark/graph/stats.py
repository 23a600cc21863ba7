"""Graph profiling statistics — the pre-flight checks of a web-graph run.

Before any iterative job on a crawl-scale link graph, the operator
questions are: how skewed are the degrees (will a hub straggle?),
how many vertices/edges after dedup, is the degree
distribution the expected power law? The reference answers these with
in-memory NetworkX-style accounting over the WordNet graph
(plwordnet_handler/base/structure/graph.py); at 10^12 documents they
must be one-pass aggregates.

``degree_distribution`` is exact and tiny-output: the number of
distinct degree VALUES in a power-law graph grows ~O(max_degree^0.5),
so the result of grouping 10^11 per-node degrees by value is a few
thousand rows — safe to collect, plot, or threshold. Two shuffles
total (node-degree agg, histogram agg), both with map-side partial
aggregation; no joins.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "attack_robustness",
    "avg_neighbor_degree",
    "conductance",
    "degree_distribution",
    "degrees",
    "gini_from_histogram",
    "hop_histogram",
    "modularity",
    "powerlaw_alpha",
    "rich_club",
]


def degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree) over the directed multigraph —
    missing direction = 0 (full outer union of the two one-sided
    aggregates; a vertex appears iff it touches ≥1 edge)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(direction, degree, n_nodes) — exact degree histogram, one row
    per distinct (direction, degree value). direction ∈ {'out', 'in'}.
    Exact rather than log-binned: bin boundaries computed via floating
    log are engine-dependent at exact powers of two, while the exact
    histogram is both portable and small (see module docstring)."""
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tagged = out_deg.select(F.lit("out").alias("direction"), "degree").unionAll(
        in_deg.select(F.lit("in").alias("direction"), "degree")
    )
    return tagged.groupBy("direction", "degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity Q of a partition over the undirected simple
    graph — ONE row (modularity double).

    Q = Σ_c [ e_c/m − (d_c/2m)² ] where, on the deduped undirected edge
    set of m edges, e_c = edges with both endpoints in community c and
    d_c = total degree of c's members (self-loops dropped with the
    canonicalization, the networkx convention for simple graphs). The
    quality gate for any community output (label propagation, CC on
    similarity graphs): Q ≈ 0 means the partition explains nothing
    beyond a random degree-preserving rewire.

    ``communities``: (id, community). Vertices missing from it form
    singleton communities implicitly — a singleton's e_c is 0 and its
    (d_c/2m)² still counts, handled by the degree-side aggregation
    keying on the coalesced label.

    Scale shape: two broadcast-or-shuffle joins of the edge list
    against the (id, community) map (rows ∝ nodes), then two scalar
    aggregations — no quadratic term anywhere; the per-community
    partials fold map-side."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    comm = communities.select(
        F.col("id"), F.col("community").alias("c")
    ).distinct()
    # label each endpoint; unknown vertices become singleton communities
    # under a '~<id>' key (string-typed labels, so a synthetic singleton
    # key can never collide with a real community label)
    labeled = (
        und.join(comm.select(F.col("id").alias("a"), F.col("c").alias("ca")), "a", "left")
        .join(comm.select(F.col("id").alias("b"), F.col("c").alias("cb")), "b", "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("ca").cast("string"), F.concat(F.lit("~"), F.col("a"))).alias("ca"),
            F.coalesce(F.col("cb").cast("string"), F.concat(F.lit("~"), F.col("b"))).alias("cb"),
        )
    ).cache()  # three actions below read it; released before return
    spark = edges.sparkSession
    try:
        m = labeled.count()
        if m == 0:
            return spark.createDataFrame([(0.0,)], "modularity double")
        intra = labeled.filter(F.col("ca") == F.col("cb")).count()
        deg_by_c = (
            labeled.select(F.col("ca").alias("c"))
            .unionAll(labeled.select(F.col("cb").alias("c")))
            .groupBy("c")
            .agg(F.count(F.lit(1)).cast("double").alias("d_c"))
        )
        sum_sq = deg_by_c.agg(
            F.sum((F.col("d_c") / (2.0 * m)) ** 2).alias("s")
        ).collect()[0]["s"]
    finally:
        labeled.unpersist()
    return spark.createDataFrame(
        [(float(intra) / m - float(sum_sq),)], "modularity double"
    )


def powerlaw_alpha(
    hist: DataFrame,
    *,
    value_col: str = "degree",
    count_col: str = "n_nodes",
    d_min: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Continuous-MLE power-law exponent over a degree histogram —
    ONE row (alpha double, n_tail bigint).

    Clauset–Shalizi–Newman (SIAM Rev. 51(4), 2009) eq. 3.1 with the
    standard −1/2 continuity correction:

        alpha = 1 + N / Σ_k c_k · ln( d_k / (d_min − 1/2) )

    over histogram rows with d_k ≥ d_min. The reference profiles its
    WordNet graph density imperatively (plwordnet_handler/base/
    structure/graph.py); a crawl graph's headline shape statistic is
    this exponent (≈2.1 for the web in-degree distribution).

    Scale shape: the input is the already-compact (value, count)
    histogram from ``degree_distribution`` — a few thousand rows at
    any graph scale — so this is a single partial-aggregable scan with
    no shuffle beyond the final single-row reduce.
    """
    tail = hist.filter(F.col(value_col) >= d_min)
    shift = float(d_min) - 0.5
    return tail.agg(
        F.round(
            1.0
            + F.sum(count_col)
            / F.sum(F.col(count_col) * F.log(F.col(value_col) / shift)),
            round_to,
        ).alias("alpha"),
        F.sum(count_col).cast("bigint").alias("n_tail"),
    )


def gini_from_histogram(
    hist: DataFrame,
    *,
    value_col: str = "degree",
    count_col: str = "n_nodes",
    round_to: int = 6,
) -> DataFrame:
    """Gini coefficient of a value distribution given as a histogram —
    ONE row (gini double). 0 = perfectly even, →1 = all mass on one
    node; the scalar skew answer to "will a hub straggle?".

    Tie-grouped rank-sum form of the classic estimator: with histogram
    rows sorted ascending by value (d_k, c_k), cumulative counts
    C_k = Σ_{j≤k} c_j, each tie group occupies ranks C_{k-1}+1 … C_k,
    whose rank sum is (C_{k-1} + 1 + C_k)·c_k/2, so

        G = 2·Σ_k d_k·(C_{k-1}+1+C_k)·c_k/2 / (n·Σ d·c) − (n+1)/n

    Scale shape: the single-partition ordering window runs over the
    COMPACT histogram (distinct degree values, ~O(√max_degree) rows
    for a power law), never over per-node rows — that is the entire
    reason this takes a histogram and not the raw degree frame.
    """
    from pyspark.sql import Window as _W

    ranked = hist.select(
        F.col(value_col).cast("double").alias("d"),
        F.col(count_col).cast("double").alias("c"),
    ).withColumn("cum", F.sum("c").over(_W.orderBy("d")))
    return ranked.agg(
        F.round(
            2.0
            * F.sum(F.col("d") * (F.col("cum") - F.col("c") + 1 + F.col("cum")) * F.col("c") / 2.0)
            / (F.sum("c") * F.sum(F.col("d") * F.col("c")))
            - (F.sum("c") + 1) / F.sum("c"),
            round_to,
        ).alias("gini")
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple edge set (a < b, self-loops out)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def conductance(
    edges: DataFrame, communities: DataFrame, *, round_to: int = 8
) -> DataFrame:
    """Per-community conductance over the undirected simple graph —
    (community, cut_edges, volume, conductance).

    φ(S) = cut(S) / min(vol(S), 2m − vol(S)) with vol(S) = Σ degrees of
    S's members = 2·intra(S) + cut(S). The sweep-cut quality measure for
    any community output (LPA, CC on similarity graphs, PPR sweeps):
    low φ = a real cluster, φ → 1 = a random vertex bag. Complements
    :func:`modularity` (one global score) with a per-community gate.
    Vertices absent from ``communities`` count as outside every
    community (their edges can only be cut edges).

    Scale shape: two label joins (the (id, community) map is usually
    broadcastable; nodes ≪ edges), one union-explode to per-(edge,
    community) contribution rows, one map-side-partial groupBy — rows
    ∝ 2·|E| and the output is |communities| rows. No quadratic term,
    no per-community scans.
    """
    und = _undirected(edges)
    comm = communities.select("id", F.col("community").alias("c")).distinct()
    labeled = (
        und.join(comm.select(F.col("id").alias("a"), F.col("c").alias("ca")), "a", "left")
        .join(comm.select(F.col("id").alias("b"), F.col("c").alias("cb")), "b", "left")
    ).cache()  # two actions: the total-volume scalar and the per-c agg
    try:
        two_m = 2.0 * labeled.count()
        same = F.col("ca").eqNullSafe(F.col("cb"))
        contrib = labeled.filter(F.col("ca").isNotNull()).select(
            F.col("ca").alias("community"),
            F.when(same, F.lit(0)).otherwise(F.lit(1)).alias("cut"),
            F.when(same, F.lit(1)).otherwise(F.lit(0)).alias("intra"),
        ).unionAll(
            # the b side only contributes when it is a DIFFERENT community
            # (same-community edges were fully accounted once above)
            labeled.filter(
                F.col("cb").isNotNull() & ~F.col("cb").eqNullSafe(F.col("ca"))
            ).select(
                F.col("cb").alias("community"),
                F.lit(1).alias("cut"),
                F.lit(0).alias("intra"),
            )
        )
        per_c = contrib.groupBy("community").agg(
            F.sum("cut").cast("bigint").alias("cut_edges"),
            (2 * F.sum("intra") + F.sum("cut")).cast("bigint").alias("volume"),
        )
        out = per_c.select(
            "community",
            "cut_edges",
            "volume",
            F.round(
                F.when(
                    F.least(F.col("volume"), two_m - F.col("volume")) > 0,
                    F.col("cut_edges")
                    / F.least(F.col("volume"), two_m - F.col("volume")),
                ).otherwise(F.lit(0.0)),
                round_to,
            ).alias("conductance"),
        )
        out = out.localCheckpoint(eager=True)  # materialize before unpersist
    finally:
        labeled.unpersist()
    return out


def rich_club(edges: DataFrame, ks: list[int], *, round_to: int = 8) -> DataFrame:
    """Rich-club coefficient φ(k) at each threshold — (k, n_nodes,
    n_edges, phi) per requested k, over the undirected simple graph.

    φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k = nodes of degree > k and
    E_k = edges between two such nodes (Zhou & Mondragón 2004). A
    rising φ(k) tail is the "hubs link to hubs" signature of web/AS
    graphs — it says whether hub-skew handling would pay on THIS
    crawl.

    Scale shape: degrees once (one agg), edge min-endpoint-degree via
    two joins against the (id, degree) frame, then BOTH sides collapse
    to compact histograms (distinct degree values, ~O(√max_degree)
    rows) before the per-k thresholding — which is a tiny broadcast
    non-equi join of |ks| rows against the histograms, never a re-scan
    of the edge set per k.
    """
    spark = edges.sparkSession
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    node_hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n"))
    edge_min = (
        und.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("db")), "b")
        .select(F.least("da", "db").alias("min_deg"))
        .groupBy("min_deg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    k_df = spark.createDataFrame([(int(k),) for k in ks], "k int")
    n_k = (
        k_df.join(F.broadcast(node_hist), node_hist.degree > k_df.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_nodes"))
    )
    e_k = (
        k_df.join(F.broadcast(edge_min), edge_min.min_deg > k_df.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_edges"))
    )
    return (
        n_k.join(e_k, "k")
        .select(
            "k",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.round(
                F.when(
                    F.col("n_nodes") >= 2,
                    2.0 * F.col("n_edges")
                    / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                ).otherwise(F.lit(0.0)),
                round_to,
            ).alias("phi"),
        )
        .orderBy("k")
    )


def avg_neighbor_degree(edges: DataFrame, *, round_to: int = 8) -> DataFrame:
    """Average-neighbor-degree assortativity profile — (degree,
    avg_knn, n_nodes): for each degree value k, the mean over nodes of
    degree k of their neighbors' mean degree (networkx
    ``average_degree_connectivity`` on the undirected simple graph).

    A falling knn(k) curve = disassortative (hubs feed the periphery —
    the usual web shape); it localizes WHERE
    :func:`~plwordnet_spark.graph.structure.degree_assortativity`'s
    single Pearson r comes from.

    Scale shape: degrees once, symmetrize the edge list (2|E| rows),
    ONE join to attach the neighbor's degree, per-node mean, then the
    compact per-degree-value rollup. All aggs partial; output is
    histogram-sized.
    """
    und = _undirected(edges)
    sym = und.select(F.col("a").alias("id"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("id"), F.col("a").alias("nbr"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    per_node = (
        sym.join(deg.select(F.col("id").alias("nbr"), F.col("degree").alias("nbr_deg")), "nbr")
        .groupBy("id")
        .agg(F.avg("nbr_deg").alias("avg_nbr_deg"))
        .join(deg, "id")
    )
    return (
        per_node.groupBy("degree")
        .agg(
            F.round(F.avg("avg_nbr_deg"), round_to).alias("avg_knn"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        )
        .orderBy("degree")
    )


def hop_histogram(
    spark,
    edges: DataFrame,
    *,
    directed: bool = False,
    max_iterations: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Exact hop-plot: (dist, n_pairs, cum_pairs, frac_cum) — the
    neighborhood function N(h) the ANF/HyperBall sketch estimates
    (see the q_anf_hll contract query for the sketch path; this is
    its exact small-graph complement and the source of truth for
    effective-diameter claims: the smallest h with frac_cum >= 0.9).

    One all-sources composite BFS flood (every edge scan shared
    across sources — diameter-many shuffles total, not per-source),
    then a histogram-sized groupBy and a window over ≤ diameter rows.
    Exact all-sources is the test/small-graph mode; at web scale you
    run the same flood from a node SAMPLE and rescale, or use the
    HLL sketch — same downstream shape either way.
    """
    from plwordnet_spark.graph.centrality import _distances
    from pyspark.sql import Window as W

    d = _distances(spark, edges, None, directed, max_iterations)
    hist = d.groupBy(F.col("dist")).agg(F.count(F.lit(1)).alias("n_pairs"))
    w = W.orderBy("dist").rowsBetween(W.unboundedPreceding, W.currentRow)
    total = hist.select(F.sum("n_pairs").alias("_tot"))
    return (
        hist.withColumn("cum_pairs", F.sum("n_pairs").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "dist",
            "n_pairs",
            "cum_pairs",
            F.round(
                F.col("cum_pairs").cast("double") / F.col("_tot"), round_to
            ).alias("frac_cum"),
        )
    )


def attack_robustness(
    spark,
    edges: DataFrame,
    fracs: Sequence[float] = (0.0, 0.05, 0.2),
    mode: str = "degree",
    seed: int = 0,
) -> DataFrame:
    """Targeted-attack / random-failure tolerance curves (Albert, Jeong
    & Barabási, Nature 2000): for each fraction f, delete top-f nodes —
    ``mode="degree"``: by (undirected degree DESC, id ASC); the attack.
    ``mode="random"``: by the portable congruential draw on the node id
    (textops.sampling's generator — deterministic, engine-replayable);
    the failure baseline. Scale-free link graphs shatter under hub
    removal while tolerating random failure — the GAP between the two
    curves is the resilience report for a crawl graph (how
    hub-dependent is connectivity?) and doubles as mirror/CDN-
    dependency triage.

    Returns one row per f: ``(frac, n_removed, n_nodes_left,
    largest_cc, frac_largest)``.

    Shape: degrees once; per f one anti-join + one CC run on the
    induced subgraph (|fracs| is a handful — the driver loop is over
    CONFIG, not data). The exact global (degree, id) rank is the
    test/small-graph mode; at web scale replace it with a degree
    THRESHOLD from the degree histogram (approx quantile) — same
    curve, no global sort.
    """
    from plwordnet_spark.graph.components import connected_components

    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .cache()
    )
    n_nodes = deg.count()
    if mode == "degree":
        order = Window.orderBy(F.desc("deg"), F.asc("id"))
    elif mode == "random":
        from plwordnet_spark.textops.sampling import SAMPLE_A, SAMPLE_B, SAMPLE_P

        # id+1 in the mix: id 0 would otherwise always draw the raw
        # offset constant and be "randomly" removed first
        draw = (
            ((F.col("id") + 1) % F.lit(SAMPLE_P)) * F.lit(SAMPLE_A)
            + F.lit(SAMPLE_B + seed)
        ) % F.lit(SAMPLE_P)
        order = Window.orderBy(draw.asc(), F.asc("id"))
    else:
        raise ValueError(f"unknown mode: {mode}")
    ranked = deg.withColumn("rk", F.row_number().over(order)).cache()
    rows = []
    for f in fracs:
        n_rm = int(math.ceil(float(f) * n_nodes))
        removed = ranked.filter(F.col("rk") <= n_rm).select("id")
        kept = (
            und.join(removed.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(removed.withColumnRenamed("id", "b"), "b", "left_anti")
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        left_ids = deg.join(removed, "id", "left_anti").select("id")
        n_left = left_ids.count()
        if n_left == 0:
            rows.append((float(f), n_rm, 0, 0))
            continue
        cc = connected_components(spark, kept, nodes=left_ids).state
        largest = (
            cc.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
        rows.append((float(f), n_rm, n_left, int(largest)))
    und.unpersist()
    deg.unpersist()
    ranked.unpersist()
    out = spark.createDataFrame(
        rows, "frac double, n_removed long, n_nodes_left long, largest_cc long"
    )
    return out.withColumn(
        "frac_largest",
        F.round(
            F.when(F.col("n_nodes_left") > 0,
                   F.col("largest_cc") / F.col("n_nodes_left")).otherwise(0.0),
            6,
        ),
    )
