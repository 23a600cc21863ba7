"""TrustRank and spam mass: seeded trust propagation over the link graph.

The classic web-spam countermeasure (Gyongyi, Garcia-Molina, Pedersen,
"Combating Web Spam with TrustRank", VLDB 2004; spam mass from the
follow-up "Link Spam Detection Based on Mass Estimation", VLDB 2006):
trust flows from a hand-vetted whitelist of seed pages along hyperlinks,
attenuated like PageRank, so pages reachable mostly from spam farms end
up with high PageRank but near-zero trust. This generalizes the
reference's relation-weighted graph analyses (plwordnet_handler's graph
build feeding rank-style queries) to the adversarial web regime the
north star targets.

Both quantities reuse the engine's single PageRank loop
(graph/pagerank.py — partitioned rank join + map-side-combined gather,
lineage truncation, checkpoint/resume):

* ``trustrank`` = personalized PageRank whose teleport (and dangling)
  mass is uniform over the trusted seed set — one extra broadcast-sized
  (id, p) frame, zero new shuffle shapes.
* ``spam_mass`` runs the uniform-teleport PageRank and TrustRank over
  the SAME cached edge/node frames and joins the two rank vectors:
  relative spam mass M(v) = (PR(v) - TR(v)) / PR(v), the share of a
  page's rank that does NOT come from trusted sources. TR is rescaled
  to sum to PR's total first (both sum to 1 here, so the rescale is the
  identity kept for clarity with the paper's absolute-mass form).

Scale shape: two K-iteration PageRank loops over one shared cached edge
table plus one final (id)-keyed join — nothing new materializes beyond
the two rank vectors, and the seed frame stays broadcast-sized (a real
whitelist is thousands of hosts, not millions).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.cache import CacheScope
from plwordnet_spark.graph.pagerank import pagerank
from plwordnet_spark.graph.pregel import PregelResult

__all__ = ["trustrank", "spam_mass", "SpamMassResult"]


def _seed_frame(
    spark: SparkSession, edges: DataFrame, seeds: list[int] | DataFrame
) -> DataFrame:
    """(id, p) uniform over the seed list/frame; pagerank() drops ids
    outside the node universe and re-normalizes, matching the paper's
    'good seeds actually in the crawl' convention."""
    if isinstance(seeds, DataFrame):
        sdf = seeds.select(F.col(seeds.columns[0]).cast("long").alias("id")).distinct()
    else:
        sdf = spark.createDataFrame(
            [(int(s),) for s in sorted(set(seeds))], "id long"
        )
    return sdf.select("id", F.lit(1.0).alias("p"))


def trustrank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int] | DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weighted: bool = False,
    **pagerank_kwargs,
) -> PregelResult:
    """edges(src, dst[, weight]) + trusted seed ids → (id, rank).

    Exactly ``pagerank(personalization=uniform(seeds))``: teleport and
    dangling mass both return to the seed set, so trust decays with
    link distance from the whitelist. All other pagerank knobs
    (checkpoint/resume, warm start) pass through."""
    return pagerank(
        spark,
        edges,
        alpha=alpha,
        tol=tol,
        max_iterations=max_iterations,
        weighted=weighted,
        personalization=_seed_frame(spark, edges, seeds),
        **pagerank_kwargs,
    )


@dataclass
class SpamMassResult:
    """state: (id, pr, tr, spam_mass); iteration counts of the two loops."""

    state: DataFrame
    pr_iterations: int
    tr_iterations: int
    converged: bool


def spam_mass(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int] | DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weighted: bool = False,
    scope: CacheScope | None = None,
) -> SpamMassResult:
    """Relative spam mass per page: M(v) = (PR(v) - TR(v)) / PR(v).

    M ≈ 0 → rank fully explained by trusted sources; M → 1 → rank
    built almost entirely from un-trusted (potentially spam) links.
    PR(v) > 0 always holds under uniform teleport (every page gets
    (1-alpha)/n), so the division is safe.

    The edge table is cached once and shared by both loops — at web
    scale the two power iterations dominate and the final join is one
    (id)-partitioned merge of two n-row vectors. The returned state is
    cached (it is read at least twice in any downstream use: scoring +
    thresholding); pass a :class:`CacheScope` to own its release,
    otherwise it lives until ``clearCache`` (cache.py contract).
    """
    edge_cols = ["src", "dst"] + (["weight"] if weighted and "weight" in edges.columns else [])
    shared = edges.select(*edge_cols).cache()
    try:
        pr = pagerank(
            spark, shared, alpha=alpha, tol=tol,
            max_iterations=max_iterations, weighted=weighted,
        )
        tr = trustrank(
            spark, shared, seeds, alpha=alpha, tol=tol,
            max_iterations=max_iterations, weighted=weighted,
        )
        pr_v = pr.state.select("id", F.col("rank").alias("pr"))
        tr_v = tr.state.select("id", F.col("rank").alias("tr"))
        state = (
            pr_v.join(tr_v, "id", "left")
            .select(
                "id",
                "pr",
                F.coalesce("tr", F.lit(0.0)).alias("tr"),
                (
                    (F.col("pr") - F.coalesce("tr", F.lit(0.0))) / F.col("pr")
                ).alias("spam_mass"),
            )
        )
        # materialize before releasing the shared edge cache: the two
        # rank vectors are small (n rows); the caller's plan must not
        # re-trigger the loops after unpersist
        state = scope.cache(state) if scope is not None else state.cache()
        state.count()
    finally:
        shared.unpersist()
    return SpamMassResult(
        state=state,
        pr_iterations=pr.iterations,
        tr_iterations=tr.iterations,
        converged=pr.converged and tr.converged,
    )
