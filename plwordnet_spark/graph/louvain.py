"""Louvain phase-1 community detection — synchronous, deterministic.

Louvain (Blondel et al., J. Stat. Mech. 2008) greedily moves each node
into the neighboring community with the best modularity gain. The
sequential sweep is inherently serial, so the distributed literature
(e.g. Que et al., IPDPS 2015 "scalable community detection") runs the
move step SYNCHRONOUSLY: every node evaluates its best community
against the previous round's labels, and only a deterministic HALF of
the nodes (by id parity, alternating per round) adopts moves — adjacent
simultaneous swaps, the classic synchronous-Louvain oscillation, cannot
happen between opposite-parity neighbors, and same-parity oscillation
is bounded by the fixed round count.

Everything is deterministic and engine-replayable: integer edge weights
keep every aggregate exact in doubles (sums of ints < 2^53), the gain
is the textbook isolated-move form

    score(i → C) = k_{i,C} − k_i · (Σtot(C) − k_i·[C = C_i]) / 2m

(argmax over neighbor communities plus i's own; ties break to the
smaller label, staying wins by the own-community term), so the driver
oracle unrolls the same rounds in SQL — the MIS/matching/Borůvka
round-replay pattern applied to community detection. This is PHASE 1
(label assignment at fixed granularity); full Louvain alternates it
with graph contraction, which is :func:`plwordnet_spark.graph.msf`-style
relabel-and-collapse plumbing — compose with
``stats.modularity`` to decide when contraction has stopped paying.

Scale shape per round: one adjacency⋈labels join + a (node, community)
partial-agg sum (the hub's in-weights fold map-side), one
community-sized totals agg, one window argmax per node — the same
traffic class as a PageRank iteration with one extra histogram-sized
agg. State is one (id, label) row per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner

__all__ = ["louvain_move_phase", "contract_graph", "louvain"]


def louvain_move_phase(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 6,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 2,
    resume: bool = False,
) -> DataFrame:
    """edges(src, dst[, weight]) → (id, label) after ``rounds``
    synchronous modularity-gain move rounds (parity-alternating
    adoption). Parallel edges collapse by summed weight; the graph is
    treated as undirected. Self-loops (the contracted-supergraph case —
    :func:`contract_graph` emits them) contribute 2w to their node's
    degree per the Louvain/modularity convention, and cancel out of the
    move argmax (a node's self-loop stays internal wherever it goes),
    so they enter only through k_i and 2m. Integer weights keep the
    replay exact — fractional weights work but cross-engine replay then
    rides on rounding.

    **Checkpoint/resume**: the rounds run on
    :class:`~plwordnet_spark.graph.pregel.PregelRunner`, which snapshots
    the label state every ``checkpoint_interval`` rounds (and after the
    last) when ``checkpoint_dir`` is set; the manifest entry's
    ``iteration`` is the absolute round. ``resume=True`` restarts from
    the latest snapshot at that round, so the parity alternation — the
    determinism anchor — picks up exactly where the killed run left off
    and the final labels equal an uninterrupted run (tested). The
    adjacency/degree/2m inputs are recomputed from ``edges`` on resume
    (same input ⇒ identical exact aggregates).
    """
    runner = PregelRunner(
        spark,
        max_iterations=rounds,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    if resume and runner.store is None:
        raise ValueError("resume requires a checkpoint_dir")
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    und_all = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.cast("double").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .cache()
    )
    und = und_all.filter(F.col("a") != F.col("b"))
    bidir = und.select(F.col("a").alias("i"), F.col("b").alias("j"), "w").unionByName(
        und.select(F.col("b").alias("i"), F.col("a").alias("j"), "w")
    )
    deg = (
        bidir.select(F.col("i").alias("id"), F.col("w").alias("k2"))
        .unionByName(
            und_all.filter(F.col("a") == F.col("b")).select(
                F.col("a").alias("id"), (F.lit(2.0) * F.col("w")).alias("k2")
            )
        )
        .groupBy("id")
        .agg(F.sum("k2").alias("k"))
        .cache()
    )
    deg.count()
    # the adjacency carries the static degree k of its SOURCE endpoint
    # (one join, once) and is cached hash-partitioned by j at the
    # session's shuffle width — the per-round labels join on j shuffles
    # to that same width, so it reuses the cached layout with zero
    # adjacency exchange (guide §2.4), and
    # carrying k here is what lets the round drop its per-round
    # node-attach join (see the loop comment below)
    adj = (
        bidir.join(
            deg.select(F.col("id").alias("i"), "k").hint("shuffle_hash"), "i"
        )
        .repartition("j")
        .cache()
    )
    adj.count()
    und_all.unpersist()
    m2 = float(deg.agg(F.sum("k")).first()[0] or 0.0)
    if m2 == 0.0:
        adj.unpersist()
        deg.unpersist()
        return spark.createDataFrame([], "id long, label long")

    labels = deg.select("id", F.col("id").alias("label"))
    start_round = 0
    latest = runner.store.latest() if resume else None
    if latest is not None:
        snap, entry = latest
        labels = snap.select("id", "label")
        start_round = int(entry["iteration"])
    # the runner calls step once per iteration, in order, so the
    # absolute round (the parity anchor) is the next value of this range
    round_of_step = iter(range(start_round + 1, rounds + 1))

    def step(labels: DataFrame) -> DataFrame:
        r = next(round_of_step)
        tot = (
            labels.join(deg, "id")
            .groupBy(F.col("label").alias("c"))
            .agg(F.sum("k").alias("t"))
        )
        # ONE merged gather (round-6 rework; measured at 24M edges —
        # the old shape moved the ~edge-count candidate table through
        # FIVE exchanges per round: nbr agg, a re-agg after the
        # own-row union, a labels attach by id, the tot attach by c,
        # and the argmax window). Three structural changes, all
        # result-exact for the integer-valued weights the replay
        # contract assumes (extra +0.0 rows and regrouped exact sums
        # cannot change a value; max(k) over a constant-per-id
        # column equals the joined k; the is_own flag IS the old
        # c == label predicate because exactly the own rows carry
        # it):
        # 1. own-community rows (kic=0, flag=1) union INTO the one
        #    gather aggregation — no second agg, and max(flag)
        #    replaces the per-round labels re-attach by id;
        # 2. the adjacency already carries k — no per-round deg
        #    join;
        # 3. the labels join keys on j against the j-partitioned
        #    cached adjacency at the loop's exact width — zero
        #    adjacency exchange (hint per guide §3.1: the
        #    checkpointed label side has no size estimate).
        # tot stays shuffle-hash-hinted: round 1's community table
        # is node-count-sized, a broadcast there is the driver-OOM
        # shape at cluster scale.
        edge_rows = adj.join(
            labels.select(
                F.col("id").alias("j"), F.col("label").alias("c")
            ).hint("shuffle_hash"),
            "j",
        ).select(
            F.col("i").alias("id"),
            "c",
            F.col("w").alias("kic"),
            "k",
            F.lit(0).alias("own"),
        )
        own_rows = labels.join(deg, "id").select(
            "id",
            F.col("label").alias("c"),
            F.lit(0.0).alias("kic"),
            "k",
            F.lit(1).alias("own"),
        )
        cand = (
            edge_rows.unionByName(own_rows)
            .groupBy("id", "c")
            .agg(
                F.sum("kic").alias("kic"),
                F.max("k").alias("k"),
                F.max("own").alias("own"),
            )
            .join(tot.hint("shuffle_hash"), "c")
            .select(
                "id",
                "c",
                (
                    F.col("kic")
                    - F.col("k")
                    * (
                        F.col("t")
                        - F.when(F.col("own") == 1, F.col("k")).otherwise(
                            F.lit(0.0)
                        )
                    )
                    / F.lit(m2)
                ).alias("score"),
            )
        )
        pick = (
            cand.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.desc("score"), F.asc("c")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("id", F.col("c").alias("best"))
        )
        active = F.pmod(F.col("id"), F.lit(2)) == F.lit((r - 1) % 2)
        return labels.join(pick.hint("shuffle_hash"), "id").select(
            "id",
            F.when(active, F.col("best"))
            .otherwise(F.col("label"))
            .alias("label"),
        )

    labels = runner.run(labels, step, start_iteration=start_round).state
    adj.unpersist()
    deg.unpersist()
    return labels


def contract_graph(
    edges: DataFrame,
    labels: DataFrame,
    weight_col: str | None = None,
) -> DataFrame:
    """Louvain phase 2: collapse each community to one supernode.
    Returns the undirected weighted supergraph ``(a, b, w)`` with
    a <= b; intra-community weight lands on the self-loop row (a = b) —
    full Louvain alternates :func:`louvain_move_phase` with this until
    ``stats.modularity`` stops improving, and the same contraction
    serves any relabel-and-collapse workflow (the Borůvka component
    graph in graph/msf.py is this exact shape).

    ``labels``: (id, label). Input self-loops are KEPT and map to the
    supernode's self-loop — contracting a contracted graph (level ≥ 2)
    must carry each community's internal mass forward, not drop it.
    Shape: two hash joins of the edge list against the (id, label) map
    + one (a, b) partial-agg sum — per-community skew folds map-side
    exactly like the modularity agg.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.cast("double").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("cb"))
    return (
        und.join(la, "a")
        .join(lb, "b")
        .select(
            F.least("ca", "cb").alias("a"),
            F.greatest("ca", "cb").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    levels: int = 2,
    rounds_per_level: int = 6,
    weight_col: str | None = None,
) -> DataFrame:
    """Multi-level Louvain: alternate :func:`louvain_move_phase` and
    :func:`contract_graph` ``levels`` times and flatten the hierarchy
    back to the ORIGINAL node ids — returns (id, label) where label is
    the top-level community (labeled by a bottom-level member id, so
    labels stay joinable against the original graph).

    Level k runs on the level-(k−1) supergraph whose self-loops carry
    the communities' internal mass — the move phase counts them into
    k_i and 2m per the modularity convention, which is what makes the
    upper levels optimize the TRUE modularity of the flattened
    partition. Each level's graph is community-count-sized, so the
    first level dominates cost exactly as in sequential Louvain.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    mapping = louvain_move_phase(
        spark, edges, rounds=rounds_per_level, weight_col=weight_col
    )
    g = contract_graph(edges, mapping, weight_col=weight_col)
    for _ in range(levels - 1):
        g = g.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "w"
        ).localCheckpoint(eager=True)
        lv = louvain_move_phase(
            spark, g, rounds=rounds_per_level, weight_col="w"
        )
        mapping = (
            mapping.join(
                lv.select(
                    F.col("id").alias("label"), F.col("label").alias("_up")
                ),
                "label",
            )
            .select("id", F.col("_up").alias("label"))
            .localCheckpoint(eager=True)
        )
        g = contract_graph(g, lv, weight_col="w")
    return mapping
