"""Hypothesis property tests: extractor robustness + algorithm
cross-implementation agreement on random graphs."""

from __future__ import annotations

import random

import networkx as nx
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from plwordnet_spark.extraction import oracle


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_extract_page_never_crashes_on_bytes(data):
    page = oracle.extract_page(data)
    assert isinstance(page.text, str)
    assert isinstance(page.links, list)


@given(st.text(max_size=1000))
@settings(max_examples=200, deadline=None)
def test_extract_page_never_crashes_on_text(text):
    page = oracle.extract_page(text.encode("utf-8", errors="replace"))
    assert isinstance(page.text, str)


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_clean_text_contract(text):
    out = oracle.clean_text(text)
    if out is not None:
        # validated output respects min length and is stripped
        assert len(out) >= oracle.MIN_EXAMPLE_LENGTH
        assert out == out.strip()
        # idempotence on its own output's validation step
        assert oracle.clean_text(out) is not None or any(
            phrase in out for phrase in oracle.REMOVE_PHRASES
        )


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_corpus_record_total_function(page_id):
    from plwordnet_spark.corpus import page_record

    rec = page_record(page_id, 2**31, seed=1)
    assert rec["url"].startswith("https://")
    assert isinstance(rec["html"], bytes)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=0, max_value=10_000))
def test_cc_methods_agree(spark, graph_seed):
    """large-star/small-star must produce networkx's components, each
    labelled by its minimum node id, on random graphs."""
    from plwordnet_spark.graph.components import connected_components

    rng = random.Random(graph_seed)
    n = rng.randint(2, 40)
    g = nx.gnp_random_graph(n, rng.uniform(0.02, 0.2), seed=graph_seed, directed=True)
    if g.number_of_edges() == 0:
        return
    edges = spark.createDataFrame(
        [(int(u), int(v), 1.0) for u, v in g.edges()],
        "src long, dst long, weight double",
    )
    nodes = spark.createDataFrame([(int(x),) for x in g.nodes()], "id long")
    got = {
        r.id: r.component
        for r in connected_components(spark, edges, nodes=nodes).state.collect()
    }
    want = {
        int(x): int(min(comp))
        for comp in nx.connected_components(g.to_undirected())
        for x in comp
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=0, max_value=10_000))
def test_bfs_matches_python_on_random_graphs(spark, graph_seed):
    """Property: distributed BFS distances equal a pure-Python BFS on
    arbitrary random digraphs (undirected traversal, seed node 0)."""
    import random
    from collections import deque

    from plwordnet_spark.graph.bfs import bfs_distances

    rng = random.Random(graph_seed)
    n = rng.randint(2, 40)
    edges = list({
        (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 120))
    })
    edges = [(u, v) for u, v in edges if u != v] or [(0, 1)]

    adj: dict = {}
    nodes = set()
    for u, v in edges:
        nodes.update((u, v))
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    src = min(nodes)
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    want = {x: dist.get(x) for x in nodes}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.dist
        for r in bfs_distances(spark, df, sources=[src]).state.collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=0, max_value=10_000))
def test_k_core_matches_networkx_on_random_graphs(spark, graph_seed):
    import networkx as nx

    from plwordnet_spark.graph.kcore import k_core

    g = nx.gnp_random_graph(30, 0.15, seed=graph_seed)
    if g.number_of_edges() == 0:
        g.add_edge(0, 1)
    df = spark.createDataFrame(list(g.edges()), "src long, dst long")
    k = 2 + graph_seed % 3
    got = {r.id for r in k_core(spark, df, k=k).state.collect()}
    assert got == set(nx.k_core(g, k).nodes())
