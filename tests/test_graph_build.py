"""Graph construction: edge/node tables, dedup, degrees, hub flags,
cohesion validation (db_to_nx.py:286-391 analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plwordnet_spark.corpus import generate_pages
from plwordnet_spark.extraction import oracle
from plwordnet_spark.graph.build import build_graph, validate_graph

N_PAGES = 400
SEED = 42


def _local_rel(src_url, dst: str) -> int:
    """Pure-Python rel typing: 1 when the case-folded hosts match, else 2
    (a NULL page url matches no host)."""
    if src_url is None:
        return 2
    src_dom = src_url.split("//")[1].split("/")[0].lower()
    dst_dom = dst.split("//")[1].split("/")[0].lower()
    return 1 if src_dom == dst_dom else 2


def _local_link_pairs(n_pages: int, seed: int) -> dict:
    """Pure-Python oracle: (src_url, dst_url, rel_id) → multiplicity."""
    from plwordnet_spark.corpus import page_record

    counts: dict = {}
    for pid in range(n_pages):
        rec = page_record(pid, n_pages, seed)
        parsed = oracle.extract_page(rec["html"], url=rec["url"])
        for dst in parsed.links:
            key = (rec["url"], dst, _local_rel(rec["url"], dst))
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


# ---------------------------------------------------------------------------
# validate_graph on hand-built bad inputs: each case pins the exact report
# (or the full error message, whose prefix names the first failed check)
# ---------------------------------------------------------------------------

def _hand_tables(spark, nodes, edges, n_pairs=None):
    from plwordnet_spark.graph.build import GraphTables

    n_pairs = len(edges) if n_pairs is None else n_pairs
    return GraphTables(
        nodes=spark.createDataFrame(nodes, "id long, url string"),
        edges=spark.createDataFrame(edges, "src long, dst long, rel_id int, weight double"),
        link_pairs=spark.createDataFrame(
            [(f"s{i}", f"d{i}", 1, 1.0) for i in range(n_pairs)],
            "src_url string, dst_url string, rel_id int, weight double",
        ),
    )


def _report(edges, link_pairs, nodes, distinct_urls, id_collisions, dangling):
    return {
        "edges": edges,
        "link_pairs": link_pairs,
        "nodes": nodes,
        "distinct_urls": distinct_urls,
        "id_collisions": id_collisions,
        "edges_without_dst_node": dangling,
    }


_NODES = [(1, "https://a/"), (2, "https://b/"), (3, "https://c/")]
_EDGES = [(1, 2, 1, 1.0), (1, 3, 2, 1.0), (2, 3, 1, 2.0)]


@pytest.mark.parametrize(
    "nodes, edges, n_pairs, error, report",
    [
        pytest.param(_NODES, _EDGES, None, None, _report(3, 3, 3, 3, 0, 0), id="valid"),
        pytest.param([], [], None, None, _report(0, 0, 0, 0, 0, 0), id="empty"),
        # two urls hashed to id 1; the edge into id 1 must not fan out
        pytest.param(
            [(1, "https://a/"), (1, "https://b/"), (2, "https://c/")],
            [(1, 2, 1, 1.0), (2, 1, 1, 1.0)],
            None, "id hash collisions", _report(2, 2, 3, 3, 1, 0), id="id_collision",
        ),
        # one url stored under two ids: caught by the global url count
        pytest.param(
            [(1, "https://a/"), (2, "https://a/"), (3, "https://c/")], _EDGES, None,
            "node/url count mismatch", _report(3, 3, 3, 2, -1, 0), id="url_two_ids",
        ),
        pytest.param(
            _NODES + [_NODES[0]], _EDGES, None,
            "node/url count mismatch", _report(3, 3, 4, 3, 0, 0), id="duplicate_node_row",
        ),
        # id 4 is referenced twice and never declared as a node
        pytest.param(
            _NODES, _EDGES + [(1, 4, 2, 1.0), (2, 4, 2, 1.0)], None,
            "edges referencing missing nodes", _report(5, 5, 3, 3, 0, 2), id="dangling_dst",
        ),
        pytest.param(
            _NODES, _EDGES, 4,
            "edge/link-pair count mismatch", _report(3, 4, 3, 3, 0, 0), id="pair_count_mismatch",
        ),
    ],
)
def test_validate_graph_reports(spark, nodes, edges, n_pairs, error, report):
    tables = _hand_tables(spark, nodes, edges, n_pairs)
    if error is None:
        assert validate_graph(tables) == report
        return
    with pytest.raises(ValueError) as err:
        validate_graph(tables)
    assert str(err.value) == f"{error}: {report}"


# ---------------------------------------------------------------------------
# rel typing: host case-folding happens in the extraction UDF, not the JVM
# ---------------------------------------------------------------------------

_REL_CASES = [
    ("https://Example.COM/a", '<a href="https://example.com/b">b</a>'),
    ("https://BÜCHER.example/", '<a href="https://bücher.example/x">x</a>'),
    ("https://a.example/p", '<a href="https://b.example/q">q</a><a href="https://b.example/q">q</a>'),
    (None, '<a href="https://a.example/z">z</a>'),
]


def _rel_pages(spark):
    return spark.createDataFrame(
        [(u, bytearray(h.encode("utf-8"))) for u, h in _REL_CASES], "url string, html binary"
    )


def test_link_pairs_rel_typing_matches_local_oracle(spark):
    from plwordnet_spark.graph.build import link_pairs

    expected: dict = {}
    for url, html in _REL_CASES:
        for dst in oracle.extract_links(html):
            key = (url, dst, _local_rel(url, dst))
            expected[key] = expected.get(key, 0.0) + 1.0
    got = {(r.src_url, r.dst_url, r.rel_id): r.weight for r in link_pairs(_rel_pages(spark)).collect()}
    assert got == expected
    # the hand cases cover both rel types, including a non-ASCII host fold
    assert ("https://BÜCHER.example/", "https://bücher.example/x", 1) in got
    assert (None, "https://a.example/z", 2) in got


def test_typed_links_lists_extract_links_targets():
    from plwordnet_spark.corpus import page_record

    records = [page_record(pid, 60, SEED) for pid in range(60)]
    cases = _REL_CASES + [(r["url"], r["html"].decode("utf-8")) for r in records]
    for url, html in cases:
        typed = oracle.typed_links(url, html)
        assert [dst for dst, _ in typed] == oracle.extract_links(html)
        assert [1 if same else 2 for _, same in typed] == [_local_rel(url, d) for d, _ in typed]


def test_domain_expr_agrees_with_host_key(spark):
    """nodes.domain (the JVM ``_domain``) and rel typing
    (``oracle.host_key``) apply one host rule."""
    from plwordnet_spark.graph.build import _domain

    urls = {u for u, _ in _REL_CASES if u is not None}
    urls |= {d for _, html in _REL_CASES for d in oracle.extract_links(html)}
    urls |= {"https://Host.Example", "a//B//c", "no-scheme/path"}
    rows = (
        spark.createDataFrame([(u,) for u in sorted(urls)], "url string")
        .select("url", _domain(F.col("url")).alias("host"))
        .collect()
    )
    assert {r.url: r.host for r in rows} == {u: oracle.host_key(u) for u in urls}


def test_edge_plans_carry_no_case_mapping(spark):
    """Spark's first lower/upper in a JVM initializes ICU case mapping
    (over a second): neither edge derivation may plan one."""
    from plwordnet_spark.graph.build import link_pairs
    from plwordnet_spark.streaming.ingest import _batch_edges

    pages = _rel_pages(spark)
    for df in (link_pairs(pages), _batch_edges(pages)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lower(" not in plan and "upper(" not in plan, plan
