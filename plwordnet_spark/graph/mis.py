"""Maximal independent set — Luby's algorithm with deterministic,
engine-portable priorities.

MIS is the classic symmetry-breaking primitive of distributed graph
computing (Luby, SIAM J. Comput. 1986): an inclusion-maximal set of
pairwise non-adjacent vertices. On a crawl graph it picks a maximal
set of mutually non-linking pages — a spread-out seed set for crawl
scheduling, landmark selection, or correlation-free sampling — and it
is the building block greedy coloring and clustering schemes lean on.

Round structure (all DataFrame ops, no driver-side graph):

1. priority p(v, r) = ((v mod P)·1103515245 + r·40503 + seed) mod P —
   the same mod-P congruential construction as
   :mod:`plwordnet_spark.graph.walks`' sampler, chosen because it is
   exact integer arithmetic reproducible in ANY engine (the SQL oracle
   replays it digit-for-digit; xxhash64 would be Spark-only). Ties on
   p are broken by id, giving a total order — comparison is on the
   (p, id) struct, which Spark orders lexicographically.
2. a vertex joins the MIS iff its (p, id) is strictly smaller than
   every ACTIVE neighbour's — one edge join + groupBy-min per round.
3. winners and their neighbourhoods leave the active set (anti-join);
   repeat until no vertex is active.

With random priorities Luby needs O(log n) rounds in expectation; the
deterministic variant keeps that behaviour on real graphs (the global
minimum always wins, and dense neighbourhoods collapse in bulk — each
vertex's settling round is the ``mis_round`` column of the result).

Scale shape per round: one shuffle for the neighbour-min gather
(composite min folds map-side), two anti-joins against the (small,
shrinking) winner/neighbour sets, active set strictly shrinks — the
same per-round envelope as a BFS frontier step. Skew: a hub's
neighbour-min is a single composite min per partition, so hot nodes
cost one row per upstream partition, not a fan-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["maximal_independent_set", "greedy_coloring", "MIS_P", "MIS_A", "MIS_B"]

MIS_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)
MIS_A = 1_103_515_245  # glibc LCG multiplier
MIS_B = 40_503


def _priority(id_col, r: int, seed: int):
    return ((id_col % MIS_P) * F.lit(MIS_A) + F.lit(r * MIS_B + seed)) % MIS_P


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    seed: int = 17,
    max_rounds: int = 64,
) -> DataFrame:
    """(id, mis_round) for every vertex of the undirected simple graph
    derived from ``edges`` that belongs to the MIS; ``mis_round`` is
    the round (1-based) the vertex was settled in. Isolated vertices
    (self-loops only / no edges after dedup) join in round 1.

    Deterministic for a given (edge set, seed) on any engine and any
    partitioning — see module docstring for the priority construction.
    """
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    sym = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
        .cache()
    )
    sym.count()
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    # every round re-derives state from the previous round's frame; an
    # eager localCheckpoint per round truncates the otherwise
    # exponentially nesting anti-join lineage (same device as
    # betweenness_centrality's backward sweep).
    # shuffle_hash hints (guide §3.1): every hinted side derives from a
    # checkpointed frame (no size estimate), where the planner otherwise
    # falls back to per-round sort-merge or driver-built broadcasts.
    # Results are join-strategy-independent.
    active = nodes.localCheckpoint(eager=True)
    winners_acc: list[DataFrame] = []
    r = 1
    while r <= max_rounds:
        if active.isEmpty():
            break
        prio = active.select("id", _priority(F.col("id"), r, seed).alias("p"))
        # active-only adjacency for this round
        act_edges = (
            sym.join(
                prio.select(F.col("id").alias("u")).hint("shuffle_hash"),
                "u",
                "left_semi",
            )
            .join(
                prio.select(F.col("id").alias("v")).hint("shuffle_hash"),
                "v",
                "left_semi",
            )
        )
        nmin = (
            act_edges.join(
                prio.select(
                    F.col("id").alias("v"), F.col("p").alias("np")
                ).hint("shuffle_hash"),
                "v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.min(F.struct(F.col("np").alias("p"), F.col("v").alias("id"))).alias("nbest"))
        )
        win = (
            prio.join(nmin.hint("shuffle_hash"), "id", "left")
            .filter(
                F.col("nbest").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.col("nbest"))
            )
            .select("id", F.lit(r).alias("mis_round"))
            .localCheckpoint(eager=True)
        )
        winners_acc.append(win)
        # remove winners and their (full-graph) neighbourhoods
        dead_nbrs = (
            sym.join(
                win.select(F.col("id").alias("u")).hint("shuffle_hash"),
                "u",
                "left_semi",
            )
            .select(F.col("v").alias("id"))
            .distinct()
        )
        active = (
            active.join(win.select("id").hint("shuffle_hash"), "id", "left_anti")
            .join(dead_nbrs.hint("shuffle_hash"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        r += 1

    out = winners_acc[0] if winners_acc else nodes.select(
        "id", F.lit(0).alias("mis_round")
    ).limit(0)
    for w in winners_acc[1:]:
        out = out.unionByName(w)
    out = out.localCheckpoint(eager=True)
    sym.unpersist()
    return out


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    seed: int = 17,
    max_colors: int = 256,
) -> DataFrame:
    """(id, color) — proper vertex coloring by ITERATED MIS (Luby's
    reduction: color c = a maximal independent set of the still-
    uncolored subgraph; remove; repeat). Proper by construction (an MIS
    is independent), and uses at most Δ+1 colors: a vertex can only
    survive a round because an uncolored NEIGHBOR entered that round's
    MIS, each such neighbor burns a distinct color, and it has only Δ
    of them. Colors are 0-based.

    The classic symmetry-breaking application: schedule conflicting
    work (recrawl same-host batches, mutually-linked page updates) in
    Δ+1 waves where each wave is conflict-free — the scheduling dual of
    the politeness slots in frontier.py. Deterministic for a fixed
    (edge set, seed): each round reuses
    :func:`maximal_independent_set` with a per-round seed offset.

    Cost: Σ_c MIS(G_c) rounds of the usual gather traffic on a
    SHRINKING graph — the first color consumes the bulk of the nodes on
    sparse graphs, so the tail colors run on small remainders. No SQL
    oracle (the unrolled replay would nest an MIS fixpoint per color);
    the driver records the rows-only check and correctness rides on the
    property tests (proper, ≤ Δ+1, deterministic).
    """
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    sym = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining_nodes = (
        sym.select(F.col("u").alias("id")).distinct().localCheckpoint(eager=True)
    )
    rem_edges = sym.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).localCheckpoint(eager=True)
    out: list[DataFrame] = []
    # hints per the MIS round loop's rationale: the color loop's own
    # joins all ride checkpointed frames
    for color in range(max_colors):
        n_left = remaining_nodes.count()
        if n_left == 0:
            break
        if rem_edges.isEmpty():
            # conflict-free remainder: one final color for everyone
            mis = remaining_nodes.localCheckpoint(eager=True)
        else:
            mis = maximal_independent_set(
                spark, rem_edges, seed=seed + color
            ).select("id")
            # isolated remainders (no surviving edges) join this MIS
            mis = mis.unionByName(
                remaining_nodes.join(
                    rem_edges.select(F.col("src").alias("id"))
                    .distinct()
                    .hint("shuffle_hash"),
                    "id",
                    "left_anti",
                )
            ).distinct().localCheckpoint(eager=True)
        out.append(mis.select("id", F.lit(color).cast("integer").alias("color")))
        remaining_nodes = remaining_nodes.join(
            mis.hint("shuffle_hash"), "id", "left_anti"
        ).localCheckpoint(eager=True)
        rem_edges = (
            rem_edges.join(
                remaining_nodes.select(F.col("id").alias("src")).hint(
                    "shuffle_hash"
                ),
                "src",
                "left_semi",
            )
            .join(
                remaining_nodes.select(F.col("id").alias("dst")).hint(
                    "shuffle_hash"
                ),
                "dst",
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
    else:
        # for/else: the loop ran out of colors without an early break.
        # That is only a failure if nodes remain — a coloring that used
        # EXACTLY max_colors empties the set on the final iteration and
        # must not raise (ADVICE r5).
        if remaining_nodes.limit(1).count() != 0:
            raise RuntimeError(
                f"coloring did not finish within max_colors={max_colors}"
            )
    if not out:
        return spark.createDataFrame([], "id long, color int")
    res = out[0]
    for part in out[1:]:
        res = res.unionByName(part)
    return res
