"""Synchronous label propagation (community detection).

Deterministic variant: every node adopts the most frequent label among
its (undirected) neighbors; ties break to the smallest label; isolated
nodes keep their own label. Synchronous rounds + deterministic
tie-breaking make the result reproducible and partition-count invariant
— unlike networkx's asynchronous random-order LPA — so the golden test
uses a pure-Python oracle implementing this exact rule
(tests/test_algorithms.py).

Per round: one join (labels onto edges, on v) + groupBy(u, label) count
+ argmax via max_by — two shuffles, both with map-side partial
aggregation. Hub nodes receive many messages; the (u, label) pre-group
keeps the per-key reduce state bounded by #distinct labels, not degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.graph.pregel import PregelRunner, PregelResult

__all__ = ["label_propagation"]


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 10,
    stop_on_stable: bool = True,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> PregelResult:
    """edges(src, dst, …) → labels(id, label); label init = id."""
    ids = (
        (nodes.select("id") if nodes is not None else
         edges.select(F.col("src").alias("id"))
         .unionByName(edges.select(F.col("dst").alias("id"))))
        .distinct()
        .cache()
    )
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter("u != v")
        .distinct()
        .repartition("v")
        .cache()
    )
    n_sym = sym.count()
    init = ids.select("id", F.col("id").alias("label"))

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax with deterministic ties: max count, then min label —
        # min_by over (-count, label); counts are small so negation is
        # ANSI-safe (labels are hash ids and must not be negated)
        best = votes.groupBy("id").agg(
            F.min_by("label", F.struct((-F.col("n")).alias("neg_n"), F.col("label"))).alias(
                "nbr_label"
            )
        )
        return labels.join(best, "id", "left").select(
            "id",
            F.coalesce("nbr_label", "label").alias("label"),
            (F.col("nbr_label") != F.col("label")).alias("changed"),
        )

    runner = PregelRunner(
        spark,
        max_iterations=max_iterations,
        tol=0.5 if stop_on_stable else None,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
    )
    res = runner.run(
        init, step, [F.count_if("changed").alias("changed")], lambda o: float(o["changed"])
    )
    sym.unpersist()
    ids.unpersist()
    return res
