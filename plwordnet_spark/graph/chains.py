"""Redirect-chain resolution: pointer doubling over a functional graph.

The web-crawl normalization step the edge-table build needs upstream of
every link analysis: HTTP redirects (301/302/canonical rel) form a
functional graph — each URL has at most ONE outgoing redirect — and
every crawled link must be rewritten to its FINAL target before dedup,
or the same logical page splits rank across its aliases. Beyond the
reference: it resolves entity identity relationally at load
(db_to_nx.py:46-130 builds graph nodes from already-canonical synset
ids) — a web crawl has to EARN canonical ids, and this operator is
that step; at web scale the chain table has billions of rows and
chains tens of hops long (tracking parameters, country hops,
http→https ladders).

A naive per-hop walk is O(L) sequential shuffles for chain length L.
Pointer doubling (the Wyllie list-ranking primitive, same trick as the
large-star/small-star CC rounds) is O(log L): state is one row per
redirecting URL ``(src, ptr, hops)`` and each round self-joins the state
on ``ptr = src`` so every pointer jumps to where its TARGET's pointer
already points — distance doubles per round. A terminal pointer (no
outgoing redirect) freezes, carrying the exact hop count; after
ceil(log2(n))+1 rounds every non-frozen row has provably walked ≥ n
hops inside a redirect LOOP and is flagged ``is_cycle`` instead of
resolved (loops are real on the web — A↔B canonical ping-pong).

Scale shape per round: ONE self-join shuffle on the pointer key + the
runner's lineage truncation; the state never exceeds one row per
redirecting URL, and convergence (no pointer moved) stops short chains
in 2-3 rounds regardless of table size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelResult, PregelRunner

__all__ = ["resolve_chains"]


def resolve_chains(
    spark: SparkSession,
    redirects: DataFrame,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """redirects(src, dst) with unique src → (src, final_dst, hops, is_cycle).

    * ``final_dst``/``hops``: the terminal URL (one with no outgoing
      redirect) and the exact number of hops to reach it; NULL for rows
      whose chain enters a redirect loop.
    * ``is_cycle``: true iff the chain never terminates.

    The caller owns the functional-graph invariant (one dst per src) —
    crawl pipelines get it from "last redirect observed wins" dedup;
    duplicate srcs here would fan out the self-join. Self-redirects
    (src == dst) are dropped as degenerate 1-cycles of no navigational
    meaning.
    """
    edges = (
        redirects.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .cache()
    )
    n = edges.count()
    if n == 0:
        edges.unpersist()
        return PregelResult(
            state=spark.createDataFrame(
                [], "src long, final_dst long, hops long, is_cycle boolean"
            ),
            iterations=0,
            converged=True,
        )
    # 2^rounds >= n guarantees any row still moving has looped
    rounds = max(1, math.ceil(math.log2(n)) + 1)

    init = edges.select(
        "src", F.col("dst").alias("ptr"), F.lit(1).cast("long").alias("hops")
    )

    def step(state: DataFrame) -> DataFrame:
        x, y = state.alias("x"), state.alias("y")
        # left join: a ptr with no state row is terminal and freezes
        return x.join(y, F.col("x.ptr") == F.col("y.src"), "left").select(
            F.col("x.src").alias("src"),
            F.coalesce(F.col("y.ptr"), F.col("x.ptr")).alias("ptr"),
            (
                F.col("x.hops") + F.coalesce(F.col("y.hops"), F.lit(0).cast("long"))
            ).alias("hops"),
            (F.coalesce(F.col("y.ptr"), F.col("x.ptr")) != F.col("x.ptr")).alias("moved"),
        )

    runner = PregelRunner(
        spark,
        max_iterations=rounds,
        tol=0.5,  # converged when zero pointers moved
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    result = runner.run(
        init, step, [F.count_if("moved").alias("moved")], lambda o: float(o["moved"])
    )

    srcs = edges.select("src").distinct()
    resolved = (
        result.state.alias("s")
        .join(
            srcs.select(F.col("src").alias("ptr")).withColumn(
                "ptr_redirects", F.lit(True)
            ),
            "ptr",
            "left",
        )
        .select(
            F.col("s.src").alias("src"),
            F.when(F.col("ptr_redirects").isNull(), F.col("ptr")).alias("final_dst"),
            F.when(F.col("ptr_redirects").isNull(), F.col("hops")).alias("hops"),
            F.col("ptr_redirects").isNotNull().alias("is_cycle"),
        )
    )
    edges.unpersist()
    return PregelResult(
        state=resolved,
        iterations=result.iterations,
        converged=result.converged,
        metrics=result.metrics,
    )
