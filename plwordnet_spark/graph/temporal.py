"""Time-respecting reachability over a temporal edge table.

A web crawl is a TEMPORAL graph: each link (src, dst) exists at the
crawl timestamp that observed it (the ``warc_ts`` column of the page
table), and "what can a visitor starting at time t0 reach" must follow
edges in non-decreasing time order — an edge crawled BEFORE you arrived
at its source tells you nothing about the live site. The same primitive
drives freshness propagation (when could content first have flowed from
seed s to page v?), infection/influence tracing over interaction logs,
and time-respecting attribution (Holme & Saramäki, "Temporal networks",
Physics Reports 2012; Pan & Saramäki 2011 define exactly this
earliest-arrival semantics).

``temporal_reachability`` computes EARLIEST ARRIVAL: ``arr(v)`` = the
smallest time at which any time-respecting path from a source reaches
``v``. A path respects time iff each edge's timestamp is >= the arrival
time at its tail (non-strict; ``strict=True`` requires >, forbidding
same-instant chains). Sources start at ``start_time``.

Spark-first shape — the same sparse frontier flood as
:func:`plwordnet_spark.graph.bfs.bfs_distances`, with the min-plus
semiring swapped for the min-arrival one:

* State is SPARSE: one ``(id, arr, changed)`` row per REACHED node;
  unreached nodes never appear, so per-round shuffle traffic is the
  frontier, not the node universe.
* Per round: frontier ⋈ edges on ``src`` with the time guard
  ``t >= arr`` (``>`` when strict) pushed INTO the join, then a
  groupBy(min) gather — map-side partial min bounds hub fan-in at one
  row per map partition, the same skew shape as BFS.
* ``arr`` values only decrease and are drawn from the finite timestamp
  set, so the loop is monotone and converges; the PregelRunner caps
  rounds and truncates lineage.

At 100 TB the edge table is the crawl-scale (src, dst, warc_ts) log —
hash-partitioned on ``src`` once (``repartition``) and reused cached
across rounds; nothing per-round touches the driver except the frontier
count. The reference has no temporal semantics (its relation graph is a
static snapshot, plwordnet_handler/base/structure/graph.py) — this is
the operator a crawl log needs that a lexicon never did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.bfs import _source_ids
from plwordnet_spark.graph.pregel import PregelResult, PregelRunner, frontier_scalars

__all__ = ["temporal_reachability"]


def temporal_reachability(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int] | DataFrame,
    start_time: int,
    time_col: str = "t",
    strict: bool = False,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, ``time_col``) → (id, arrival) for every node
    reachable from the sources by a time-respecting path starting at
    ``start_time``; ``arrival`` is the earliest such time (long).
    Sources present in the graph report ``arrival = start_time``.

    Times are plain longs (epoch days/seconds, or any totally ordered
    label); self-loops are dropped, parallel (src, dst) edges with
    distinct timestamps are all kept — each is a distinct contact.
    """
    rel = (
        edges.select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.col(time_col).cast("long").alias("t"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
        .cache()
    )
    rel.count()

    node_ids = (
        rel.select(F.col("u").alias("id"))
        .unionByName(rel.select(F.col("v").alias("id")))
        .distinct()
    )
    # a source id absent from the edge set must not emit a phantom row
    # (same contract as landmark_distances)
    init = (
        _source_ids(spark, sources)
        .distinct()
        .join(node_ids, "id", "left_semi")
        .select(
            "id",
            F.lit(int(start_time)).cast("long").alias("arr"),
            F.lit(True).alias("changed"),
        )
    )

    usable = F.col("t") > F.col("arr") if strict else F.col("t") >= F.col("arr")

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter(F.col("changed")).select(
            F.col("id").alias("u"), "arr"
        )
        offers = (
            rel.join(frontier, "u")
            .filter(usable)
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("t").alias("na"))
        )
        improved = F.col("na").isNotNull() & (
            F.col("arr").isNull() | (F.col("na") < F.col("arr"))
        )
        # full outer: offers to never-reached ids APPEND state rows
        # (sparse growth); existing rows fold min-arrival
        return state.join(offers, "id", "full").select(
            "id",
            F.least(F.col("arr"), F.col("na")).alias("arr"),
            improved.alias("changed"),
        )

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=0.5,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(init, step, *frontier_scalars())
    state = res.state.select("id", F.col("arr").alias("arrival"))
    rel.unpersist()
    return PregelResult(
        state=state,
        iterations=res.iterations,
        converged=res.converged,
        metrics=res.metrics,
    )
