"""Edge/node table construction: pages → link graph.

The web-scale generalization of the reference's graph build
(db_to_nx.py:46-284: relational tables → typed MultiDiGraph). Here the
property graph *is* two DataFrames (SURVEY.md §1.1) and the build is one
declarative plan:

    pages ──typed_links_udf──▶ (url, [(dst_url, same_host)])
          ──explode──▶ (src_url, dst_url, rel_id)   rel_id: intra/cross domain
          ──xxhash64──▶ (src, dst, rel_id)
          ──dropDuplicates──▶ edges             (multigraph keyed by rel_id,
                                                 db_to_nx.py:262-284 analog)
    nodes = distinct urls ∪ link targets, with degrees

Scale choices (north rule: "partitioning / shuffle / skew handled
explicitly"):

* ids are ``xxhash64(url)`` — computed JVM-side, no Python; a collision
  audit job is provided (at 10^12 urls the 64-bit birthday bound makes
  auditing mandatory, not optional),
* edges are hash-repartitioned by ``src`` and written that way, so every
  downstream gather join starts co-located,
* hub detection runs off the degree table (``nodes.is_hub``); the edge
  table carries no skew metadata — the gathers' map-side partial
  aggregation absorbs hub keys (BENCH/SKEW.md).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plwordnet_spark.extraction.udfs import typed_links_udf

__all__ = [
    "GraphTables", "build_graph", "hash_pairs", "id_collisions", "link_pairs",
    "merge_edge_tables", "validate_graph",
]

REL_INTRA_DOMAIN = 1
REL_CROSS_DOMAIN = 2


def _domain(col):
    # 'https://host/...' → host, for nodes.domain only: the JVM twin of
    # oracle.host_key, which is the reference rule (rel typing uses it, and
    # test_domain_expr_agrees_with_host_key pins the two together). The
    # JVM-side lower initializes ICU case mapping on first use (over a
    # second), so the edge path folds hosts in Python instead
    return F.lower(F.split_part(F.split_part(col, F.lit("//"), F.lit(2)), F.lit("/"), F.lit(1)))


@dataclass
class GraphTables:
    nodes: DataFrame  # (id, url, domain, out_degree, in_degree, is_hub)
    edges: DataFrame  # (src, dst, rel_id, weight)
    link_pairs: DataFrame  # (src_url, dst_url, rel_id, weight) — pre-hash, for audits


def link_pairs(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) → url-level (src_url, dst_url, rel_id, weight).

    The one edge derivation: the batch build and every streaming
    micro-batch hash this plan into ids. The rel type is decided in the
    extraction UDF (``oracle.typed_links``: case-folded host equality),
    so the plan carries no JVM ``lower``/``upper`` and never pays ICU's
    first-use initialization. Returned uncached — callers that reuse it
    decide whether to cache."""
    return (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(typed_links_udf(F.col("url"), F.col("html"))).alias("link"),
        )
        # multigraph rel typing: intra- vs cross-domain link (RelationType
        # analog, rel_type.py:12-28 — here derived, not a lookup)
        .select(
            "src_url",
            F.col("link.dst_url").alias("dst_url"),
            F.when(F.col("link.same_host"), F.lit(REL_INTRA_DOMAIN))
            .otherwise(F.lit(REL_CROSS_DOMAIN))
            .alias("rel_id"),
        )
        # collapse duplicate anchors; weight = multiplicity (kept so the
        # dedup is lossless — dropDuplicates would discard it)
        .groupBy("src_url", "dst_url", "rel_id")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def hash_pairs(pairs: DataFrame) -> DataFrame:
    """url-level pairs → id-level (src, dst, rel_id, weight) edges."""
    return pairs.select(
        F.xxhash64("src_url").alias("src"),
        F.xxhash64("dst_url").alias("dst"),
        "rel_id",
        "weight",
    )


def build_graph(
    pages: DataFrame,
    hub_degree_threshold: int = 64,
    edge_partitions: int | None = None,
) -> GraphTables:
    """pages(url, html, …) → GraphTables.

    ``hub_degree_threshold``: in-degree at or above which a node counts
    as a hub (``nodes.is_hub``). On the synthetic corpus the hub domains
    (corpus.py power-law) trip this; on a real crawl the threshold would
    come from the degree histogram.
    """
    # consumed by edges, nodes AND degrees — one extraction pass, not
    # three (at production scale this is a persisted staging table)
    pairs = link_pairs(pages).cache()
    edges = hash_pairs(pairs)

    page_nodes = pages.select(F.col("url"))
    target_nodes = pairs.select(F.col("dst_url").alias("url"))
    urls = page_nodes.unionByName(target_nodes).distinct()

    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )

    nodes = (
        urls.select(F.xxhash64("url").alias("id"), "url", _domain(F.col("url")).alias("domain"))
        .join(out_deg, "id", "left")
        .join(in_deg, "id", "left")
        .fillna(0, subset=["out_degree", "in_degree"])
        .withColumn("is_hub", F.col("in_degree") >= F.lit(hub_degree_threshold))
    )

    if edge_partitions:
        edges = edges.repartition(edge_partitions, "src")
    else:
        edges = edges.repartition("src")
    return GraphTables(nodes=nodes, edges=edges, link_pairs=pairs)


def merge_edge_tables(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental crawl merge: union two (src, dst, rel_id, weight)
    edge tables, summing multiplicity weights of edges seen in both —
    the MERGE-INTO shape of an Iceberg upsert, expressed relationally
    (the reference's incremental skip-already-done batch pattern,
    plwordnet_ml/.../wrappers.py:292-304, upgraded to additive merge)."""
    cols = ["src", "dst", "rel_id", "weight"]
    return (
        existing.select(*cols)
        .unionByName(new.select(*cols))
        .groupBy("src", "dst", "rel_id")
        .agg(F.sum("weight").alias("weight"))
    )


def id_collisions(nodes: DataFrame) -> int:
    """xxhash64 collision audit: #distinct urls − #distinct ids."""
    row = nodes.agg(
        F.countDistinct("url").alias("u"), F.countDistinct("id").alias("i")
    ).first()
    return int(row["u"] - row["i"])


def validate_graph(tables: GraphTables) -> dict:
    """Cohesion checks — the db_to_nx.py:286-391 analog, one scan per table.

    Returns a dict of named counts; raises ValueError on violation
    (mirrors the reference's RuntimeError on edge-count mismatch,
    db_to_nx.py:342-345).

    The node stats keep a global ``countDistinct(url)``: it reports one
    url stored under two ids as a node/url mismatch, which a single
    grouped-by-id aggregate over nodes ∪ edge refs cannot see (that fold
    ran three fewer jobs but was no faster end to end).
    """
    # three jobs total (one scan per table): node stats in one agg,
    # edge count + missing-dst refs in one outer-join agg, pair count
    node_row = tables.nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("u"),
        F.countDistinct("id").alias("i"),
    ).first()
    node_count, url_count = int(node_row["n"]), int(node_row["u"])
    collisions = int(node_row["u"] - node_row["i"])
    # distinct ids on the build side: duplicate node ids (the collision
    # case this validator exists to catch) must not fan out edge rows
    # and corrupt edge_count — collisions are reported by their own check
    edge_row = (
        tables.edges.join(
            tables.nodes.select(F.col("id").alias("dst")).distinct()
            .withColumn("_has", F.lit(True)),
            "dst",
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("e"),
            F.coalesce(F.sum(F.when(F.col("_has").isNull(), 1)), F.lit(0)).alias("d"),
        )
        .first()
    )
    edge_count, dangling_refs = int(edge_row["e"]), int(edge_row["d"])
    pair_count = tables.link_pairs.count()
    report = {
        "edges": edge_count,
        "link_pairs": pair_count,
        "nodes": node_count,
        "distinct_urls": url_count,
        "id_collisions": collisions,
        "edges_without_dst_node": dangling_refs,
    }
    if edge_count != pair_count:
        raise ValueError(f"edge/link-pair count mismatch: {report}")
    if node_count != url_count:
        raise ValueError(f"node/url count mismatch: {report}")
    if collisions:
        raise ValueError(f"id hash collisions: {report}")
    if dangling_refs:
        raise ValueError(f"edges referencing missing nodes: {report}")
    return report
