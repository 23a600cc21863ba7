"""Connected components: alternating large-star/small-star.

The alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
literature, PAPERS.md) converges in O(log n) rounds, each round two
map-reduce steps — exactly the shape the north rule names. The reference
never computes components explicitly (its graphs go to networkx,
SURVEY.md §2.10 G6); goldens are asserted against
``networkx.connected_components`` exactly.

Each round's primitives:

* large-star: per node u, connect every strictly-greater neighbor to
  ``m(u) = min(Γ(u) ∪ {u})``,
* small-star: orient edges to (larger, smaller); per node u connect all
  (≤ u) neighbors and u itself to m(u).

Both are ``groupBy(min) + join`` — partial aggregation absorbs hub skew
on the min side; the join fan-out is bounded by node degree.

Fixpoint detection compares a cheap order-insensitive fingerprint
(count + sum of per-edge hashes) between rounds — observed on the
round's checkpoint, so each round is one action and the edge set never
reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import (
    PregelResult,
    PregelRunner,
    fingerprint,
    unchanged_fingerprint,
)

__all__ = ["connected_components", "incremental_components"]


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    return fwd.unionByName(rev).filter("u != v").distinct()


def _large_star(e: DataFrame) -> DataFrame:
    # shuffle-hash hint on the node-sized min table (guide §3.1): the
    # default sort-merge re-sorts the edge-sized sym side every round
    sym = e.select("u", "v").unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        sym.join(m.hint("shuffle_hash"), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter("u != v")
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))  # all v ≤ u here
    linked = oriented.join(m.hint("shuffle_hash"), "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = m.select("u", F.col("m").alias("v"))
    return linked.unionByName(self_link).filter("u != v").distinct()


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 3,
) -> PregelResult:
    """edges(src, dst, …) → assignments(id, component) where component is
    the minimum node id of the component (deterministic canonical label).
    """
    ids = (
        (nodes.select("id") if nodes is not None else
         edges.select(F.col("src").alias("id"))
         .unionByName(edges.select(F.col("dst").alias("id"))))
        .distinct()
        .cache()
    )
    und = _symmetrize(edges)
    # NOTE (r6, measured): CC's state is the EDGE set and shrinks every
    # round, so AQE's runtime coalescing is load-bearing — a variant
    # sweep (hint × AQE × partitions, OPTIMIZATION_r06.md) showed fixed
    # 32-partition/no-AQE rounds 2× slower and a narrow fixed width no
    # better than AQE.

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=0.5,  # delta is 0/1: stop on first unchanged round
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(
        und.select("u", "v"),
        lambda e: _small_star(_large_star(e)),
        fingerprint("u", "v"),
        unchanged_fingerprint(),
    )
    star = res.state  # (u → v=root) star edges at fixpoint
    assign = (
        star.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(star.select(F.col("v").alias("id"), F.col("v").alias("component")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    full = (
        ids.join(assign, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
    ids.unpersist()
    return PregelResult(
        state=full, iterations=res.iterations, converged=res.converged, metrics=res.metrics
    )


def incremental_components(
    spark: SparkSession,
    prev_labels: DataFrame,
    new_edges: DataFrame,
    max_iterations: int = 50,
) -> PregelResult:
    """Maintain connected components under EDGE ARRIVALS without
    re-scanning the old graph: the previous labeling (id, component)
    already encodes the old partition, so each old component can stand
    in for ALL its internal edges as one star (id — component). Running
    plain :func:`connected_components` over ``star edges ∪ new_edges``
    yields exactly the components of ``old graph ∪ new_edges`` — the
    crawl-over-crawl maintenance shape: yesterday's labels are
    node-count-sized, today's delta is batch-sized, and the 100 TB of
    historical edges never reparticipate.

    The star edges also act as an accelerator: every old component
    arrives pre-collapsed to depth 1, so rounds are driven by how much
    the DELTA stitches components together, not by the old graph's
    diameter. Labels stay canonical (component = min member id) —
    identical to a cold run on the union graph (tested), so downstream
    joins on the label column survive the increment unchanged.

    Returns a :class:`PregelResult` like ``connected_components``;
    components unseen by either input do not appear (keep
    ``prev_labels`` complete over the node universe).
    """
    stars = prev_labels.select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    union = stars.unionByName(new_edges.select("src", "dst"))
    nodes = (
        prev_labels.select("id")
        .unionByName(new_edges.select(F.col("src").alias("id")))
        .unionByName(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return connected_components(
        spark, union, nodes=nodes, max_iterations=max_iterations
    )
