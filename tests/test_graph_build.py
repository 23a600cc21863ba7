"""Graph construction: edge/node tables, dedup, degrees, hub flags,
cohesion validation (db_to_nx.py:286-391 analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from plwordnet_spark.corpus import generate_pages
from plwordnet_spark.extraction import oracle
from plwordnet_spark.graph.build import build_graph, validate_graph

N_PAGES = 400
SEED = 42


def _local_link_pairs(n_pages: int, seed: int) -> dict:
    """Pure-Python oracle: (src_url, dst_url, rel_id) → multiplicity."""
    from plwordnet_spark.corpus import page_record

    counts: dict = {}
    for pid in range(n_pages):
        rec = page_record(pid, n_pages, seed)
        parsed = oracle.extract_page(rec["html"], url=rec["url"])
        src_dom = rec["url"].split("//")[1].split("/")[0].lower()
        for dst in parsed.links:
            dst_dom = dst.split("//")[1].split("/")[0].lower()
            rel = 1 if src_dom == dst_dom else 2
            key = (rec["url"], dst, rel)
            counts[key] = counts.get(key, 0) + 1
    return counts


def test_build_graph_matches_oracle(spark):
    pages = generate_pages(spark, N_PAGES, SEED).cache()
    tables = build_graph(pages)
    got = {
        (r.src_url, r.dst_url, r.rel_id): r.weight
        for r in tables.link_pairs.collect()
    }
    expected = _local_link_pairs(N_PAGES, SEED)
    assert got == {k: float(v) for k, v in expected.items()}
    report = validate_graph(tables)
    assert report["edges"] == len(expected)
    assert report["id_collisions"] == 0
    pages.unpersist()


def test_degrees_and_edge_schema(spark):
    pages = generate_pages(spark, N_PAGES, SEED)
    tables = build_graph(pages, hub_degree_threshold=10)
    nodes = tables.nodes.cache()
    edges = tables.edges.cache()
    assert edges.columns == ["src", "dst", "rel_id", "weight"]
    # out_degree on nodes equals count of edges per src
    chk = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(nodes.select("id", "out_degree"), "id")
        .filter(F.col("cnt") != F.col("out_degree"))
        .count()
    )
    assert chk == 0
    # hubs exist in the power-law corpus: is_hub is in_degree >= threshold
    assert nodes.filter("is_hub").count() > 0
    assert nodes.filter((F.col("in_degree") >= 10) != F.col("is_hub")).count() == 0
    nodes.unpersist()
    edges.unpersist()


def test_dangling_and_isolated_nodes(spark):
    """Link targets that are not crawled pages still become nodes."""
    pages = generate_pages(spark, 50, SEED)
    tables = build_graph(pages)
    n_nodes = tables.nodes.count()
    n_pages_count = pages.count()
    assert n_nodes >= n_pages_count
    report = validate_graph(tables)
    assert report["edges_without_dst_node"] == 0


def test_merge_edge_tables(spark):
    """Incremental merge: batch1 ∪ batch2 == full build (additive
    weights), so a resumed crawl converges to the one-shot result."""
    from plwordnet_spark.graph.build import merge_edge_tables

    full = build_graph(generate_pages(spark, 120, SEED)).edges
    pages = generate_pages(spark, 120, SEED).cache()
    batch1 = build_graph(pages.filter("url like '%/p/1%' or url like '%/p/2%'")).edges
    batch2 = build_graph(
        pages.filter("not (url like '%/p/1%' or url like '%/p/2%')")
    ).edges
    merged = merge_edge_tables(batch1, batch2)
    a = {(r.src, r.dst, r.rel_id): r.weight for r in merged.collect()}
    b = {(r.src, r.dst, r.rel_id): r.weight for r in full.select("src","dst","rel_id","weight").collect()}
    assert a == b
    pages.unpersist()
