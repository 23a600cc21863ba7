"""IVF (inverted-file) approximate nearest-neighbor search.

The reference serves vector top-k through Milvus with an IVF_FLAT index
(similar_search_handler.py:236-262; collection config uses
``index_type: IVF_FLAT, metric: COSINE``). This module is the
Spark-native IVF_FLAT: a coarse quantizer (k-means over the corpus)
splits the vectors into ``n_centroids`` buckets; a query scores only
the ``nprobe`` nearest buckets' members instead of the whole corpus.

Spark-first shape — every stage is a DataFrame plan:

* **Train** (:func:`kmeans_centroids`): Lloyd iterations where the
  centroid table (``n_centroids`` rows — tens to thousands) is
  BROADCAST to the assignment join; the corpus is never shuffled during
  assignment. The update step is one ``posexplode`` + grouped AVG —
  map-side partial aggregation, output again centroid-sized.
  Deterministic: init = the vectors of the ``n_centroids`` smallest
  ids, fixed iteration count, no RNG (a production run would seed a
  k-means‖ sampler instead; determinism here is what makes the operator
  oracle- and test-able).
* **Index** (:func:`ivf_assign`): one broadcast join adds a ``bucket``
  column; persisting the corpus partitioned by it makes a probe read
  only matching files.
* **Search** (:func:`ivf_topk`): queries × broadcast centroids → each
  query's ``nprobe`` best buckets → hash join on ``bucket`` against the
  indexed corpus → exact cosine re-rank inside the probed slice →
  per-query ``row_number`` top-k. Work drops from |corpus|·|queries|
  to ≈ (nprobe/n_centroids)·|corpus|·|queries| — the 100 TB knob. With
  ``nprobe >= n_centroids`` the probe set is the whole corpus and the
  result is EXACTLY brute force (recall 1.0) — which is how the driver
  contract oracle-checks this operator without modeling k-means in SQL.

All distances are cosine; vectors are L2-normalized once up front so
assignment and scoring are plain dot products (``zip_with`` +
``aggregate`` higher-order functions, JVM codegen, no Python UDFs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["kmeans_centroids", "ivf_assign", "ivf_topk", "IvfIndex", "semdedup_pairs"]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _l2_normalize(col):
    norm = F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when(
        norm > 0, F.transform(col, lambda v: v / norm)
    ).otherwise(col)


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    max_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means on the unit sphere (spherical
    k-means: assign by max dot product, centroids re-normalized after
    each mean). Returns ``(bucket, centroid)`` with bucket 0..n-1.

    The corpus is scanned ``max_iters + 1`` times; per iteration the
    only shuffle is the centroid-sized grouped average. Centroids whose
    bucket goes empty keep their previous position (standard Lloyd
    degeneracy handling, deterministic).
    """
    normed = corpus.select(
        F.col(id_col).alias("_id"), _l2_normalize(F.col(vec_col)).alias("_v")
    )
    # global-order window runs over <= n_centroids rows (post-limit) —
    # the single-partition WindowExec warning it triggers is inherent to
    # numbering a driver-sized table and not a scale risk
    centroids = (
        normed.orderBy("_id")
        .limit(n_centroids)
        .select(
            (F.row_number().over(Window.orderBy("_id")) - 1).alias("bucket"),
            F.col("_v").alias("centroid"),
        )
    )
    centroids = centroids.localCheckpoint(eager=True)
    for _ in range(max_iters):
        assigned = _assign(normed, centroids)
        # per-dimension mean of each bucket's members, then re-normalize
        sums = (
            assigned.select("bucket", F.posexplode("_v").alias("pos", "x"))
            .groupBy("bucket", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("bucket")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("raw")
            )
            .select("bucket", _l2_normalize(F.col("raw")).alias("centroid"))
        )
        # empty buckets keep their old centroid
        centroids = (
            centroids.select("bucket", F.col("centroid").alias("old"))
            .join(sums, "bucket", "left")
            .select("bucket", F.coalesce("centroid", "old").alias("centroid"))
            .localCheckpoint(eager=True)
        )
    return centroids


def _assign(normed: DataFrame, centroids: DataFrame) -> DataFrame:
    """(_id, _v, bucket): nearest centroid by dot product; ties break to
    the smaller bucket id (deterministic)."""
    scored = normed.crossJoin(F.broadcast(centroids)).select(
        "_id",
        "_v",
        "bucket",
        _dot(F.col("_v"), F.col("centroid")).alias("_s"),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_s"), F.asc("bucket"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("_id", "_v", "bucket")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus + ``bucket`` column (the inverted file). Original columns
    are preserved; the normalized vector used for assignment is dropped."""
    normed = corpus.select(
        F.col(id_col).alias("_id"), _l2_normalize(F.col(vec_col)).alias("_v")
    )
    buckets = _assign(normed, centroids).select(
        F.col("_id").alias(id_col), "bucket"
    )
    return corpus.join(buckets, id_col)


@dataclass
class IvfIndex:
    """Bundle of the trained quantizer and the bucketed corpus."""

    centroids: DataFrame
    corpus: DataFrame  # with bucket column
    id_col: str = "vec_id"
    vec_col: str = "embedding"


def ivf_topk(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    vec_col: str | None = None,
) -> DataFrame:
    """(query_id, vec_id, sim, rank) — top-k by cosine among the members
    of each query's ``nprobe`` nearest buckets.

    Plan: queries (small, broadcast) × centroids → per-query bucket
    shortlist → hash join on ``bucket`` into the corpus (only probed
    buckets' rows survive the join — with a bucket-partitioned corpus
    this is also a partition-pruned scan) → exact cosine → windowed
    top-k with the same (sim DESC, id ASC) tie-break as
    :func:`~plwordnet_spark.vectors.similarity.cosine_topk`, so
    ``nprobe >= n_centroids`` reproduces brute force exactly.
    """
    qv = vec_col or index.vec_col
    q = queries.select(
        F.col(query_id), _l2_normalize(F.col(qv)).alias("_qv")
    )
    qc = q.crossJoin(F.broadcast(index.centroids)).select(
        query_id,
        "_qv",
        "bucket",
        _dot(F.col("_qv"), F.col("centroid")).alias("_cs"),
    )
    wq = Window.partitionBy(query_id).orderBy(F.desc("_cs"), F.asc("bucket"))
    probes = (
        qc.withColumn("_pn", F.row_number().over(wq))
        .filter(F.col("_pn") <= F.lit(nprobe))
        .select(query_id, "_qv", "bucket")
    )
    c = index.corpus.select(
        F.col(index.id_col), "bucket", _l2_normalize(F.col(index.vec_col)).alias("_cv")
    )
    scored = c.join(F.broadcast(probes), "bucket").select(
        query_id,
        index.id_col,
        _dot(F.col("_qv"), F.col("_cv")).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(index.id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= F.lit(k)
    )


def semdedup_pairs(
    corpus: DataFrame,
    n_centroids: int = 8,
    max_iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic near-duplicate PAIRS by
    clustering embeddings and comparing pairs ONLY within a cluster.
    Returns ``(id_a, id_b, sim)`` with id_a < id_b and cosine ≥
    ``threshold``; feed the pairs to
    :func:`plwordnet_spark.graph.components.connected_components` and
    keep min-id per component to materialize the dedup decision, the
    same two-step shape as MinHash dedup (textops/dedup.py).

    Where MinHash catches LEXICAL near-duplicates (shared shingles),
    this catches SEMANTIC ones — translations, paraphrases, templated
    rewrites — which is why modern corpus pipelines run both. The
    cluster gate turns the O(n²) all-pairs cosine into Σ|cluster|²:
    with balanced k-means that is n²/k, and k scales with the corpus
    (SemDeDup used 50k clusters for LAION). The within-cluster
    self-join below inherits the mega-cluster landmine named by
    cooccurrence_lift — Σ\\|cluster\\|² IS the cost contract; raise
    ``n_centroids`` (or pre-split giant clusters) to bound it.

    Determinism: clustering is the oracle-pinned
    :func:`kmeans_centroids` (q_kmeans), pairs are exact cosine —
    the whole operator replays in SQL.
    """
    cents = kmeans_centroids(
        corpus, n_centroids, max_iters=max_iters, id_col=id_col, vec_col=vec_col
    )
    assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    normed = assigned.select(
        "bucket",
        F.col(id_col).alias("_id"),
        _l2_normalize(F.col(vec_col)).alias("_v"),
    )
    a = normed.select(
        "bucket", F.col("_id").alias("id_a"), F.col("_v").alias("_va")
    )
    b = normed.select(
        "bucket", F.col("_id").alias("id_b"), F.col("_v").alias("_vb")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _dot(F.col("_va"), F.col("_vb")).alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(float(threshold)))
    )
