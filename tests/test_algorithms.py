"""Algorithm goldens vs networkx / pure-Python oracles (SURVEY.md §5.2):
PageRank allclose 1e-6, components exact, labels exact, triangles exact.
"""

from __future__ import annotations

import math

import networkx as nx
import pytest
from pyspark.sql import functions as F

from plwordnet_spark.graph.components import connected_components
from plwordnet_spark.graph.labelprop import label_propagation
from plwordnet_spark.graph.pagerank import pagerank
from plwordnet_spark.graph.triangles import triangle_count, triangles_per_node

SEED = 42


def _pagerank_oracle(g: nx.DiGraph, alpha=0.85, tol=1e-8, max_iter=200, weight="weight"):
    """Classic PageRank power iteration (the published algorithm networkx
    implements; reimplemented because the container lacks scipy):
    stochastic out-weight normalization, uniform teleport, dangling mass
    redistributed uniformly, stop when L1 error < n·tol."""
    n = g.number_of_nodes()
    if n == 0:
        return {}
    x = {node: 1.0 / n for node in g.nodes()}
    out_w = {
        node: sum(data.get(weight, 1.0) for _, _, data in g.out_edges(node, data=True))
        for node in g.nodes()
    }
    dangling = [node for node in g.nodes() if out_w[node] == 0.0]
    for _ in range(max_iter):
        xlast = x
        x = {node: 0.0 for node in g.nodes()}
        dangle_sum = alpha * sum(xlast[node] for node in dangling)
        for u, v, data in g.edges(data=True):
            x[v] += alpha * xlast[u] * data.get(weight, 1.0) / out_w[u]
        for node in x:
            x[node] += dangle_sum / n + (1.0 - alpha) / n
        err = sum(abs(x[node] - xlast[node]) for node in x)
        if err < n * tol:
            return x
    raise AssertionError("oracle pagerank failed to converge")


def _edges_df(spark, edge_list, weights=None):
    if weights is None:
        rows = [(int(u), int(v), 1.0) for u, v in edge_list]
    else:
        rows = [(int(u), int(v), float(w)) for (u, v), w in zip(edge_list, weights)]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


@pytest.fixture(scope="module")
def graphs():
    """(name, nx.DiGraph) test graphs: hand-built, ER, BA-ish."""
    hand = nx.DiGraph()
    hand.add_edges_from(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 6), (6, 5), (7, 7), (8, 4)]
    )
    hand.add_node(9)  # isolated
    er = nx.gnp_random_graph(120, 0.03, seed=SEED, directed=True)
    ba = nx.barabasi_albert_graph(150, 3, seed=SEED)  # undirected, hubby
    ba_directed = nx.DiGraph()
    ba_directed.add_edges_from(ba.edges())
    return [("hand", hand), ("er", er), ("ba", ba_directed)]


def test_pagerank_matches_networkx(spark, graphs):
    for name, g in graphs:
        g = nx.DiGraph(g)
        g.remove_edges_from(nx.selfloop_edges(g))
        if g.number_of_edges() == 0:
            continue
        edges = _edges_df(spark, g.edges())
        nodes = spark.createDataFrame([(int(n),) for n in g.nodes()], "id long")
        result = pagerank(spark, edges, nodes=nodes, tol=1e-8, max_iterations=200)
        got = {r.id: r.rank for r in result.state.collect()}
        expected = _pagerank_oracle(g, alpha=0.85, tol=1e-8, max_iter=200)
        assert result.converged, name
        assert set(got) == {int(n) for n in expected}, name
        for node, rank in expected.items():
            assert math.isclose(got[int(node)], rank, abs_tol=1e-6), (
                name, node, got[int(node)], rank,
            )


def test_pagerank_weighted(spark):
    g = nx.DiGraph()
    weighted_edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0), (3, 0, 5.0)]
    g.add_weighted_edges_from(weighted_edges)
    edges = _edges_df(spark, [(u, v) for u, v, _ in weighted_edges],
                      [w for _, _, w in weighted_edges])
    result = pagerank(spark, edges, tol=1e-9)
    got = {r.id: r.rank for r in result.state.collect()}
    expected = _pagerank_oracle(g, alpha=0.85, tol=1e-9)
    for node, rank in expected.items():
        assert math.isclose(got[int(node)], rank, abs_tol=1e-6), node


def test_connected_components_exact(spark, graphs):
    for name, g in graphs:
        und = nx.Graph(g)
        edges = _edges_df(spark, g.edges()) if g.number_of_edges() else None
        if edges is None:
            continue
        nodes = spark.createDataFrame([(int(n),) for n in g.nodes()], "id long")
        result = connected_components(spark, edges, nodes=nodes)
        got = {r.id: r.component for r in result.state.collect()}
        expected = {}
        for comp in nx.connected_components(und):
            root = min(comp)
            for n in comp:
                expected[int(n)] = int(root)
        assert got == expected, name


def _lpa_oracle(edge_list, node_ids, max_iterations):
    """Pure-Python synchronous LPA with max-count/min-label ties."""
    from collections import Counter

    nbrs = {n: set() for n in node_ids}
    for u, v in edge_list:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    labels = {n: n for n in node_ids}
    for _ in range(max_iterations):
        new = {}
        for n in node_ids:
            if not nbrs[n]:
                new[n] = labels[n]
                continue
            counts = Counter(labels[m] for m in nbrs[n])
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        if new == labels:
            return new
        labels = new
    return labels


def test_label_propagation_matches_oracle(spark, graphs):
    for name, g in graphs:
        if g.number_of_edges() == 0:
            continue
        edge_list = [(int(u), int(v)) for u, v in g.edges()]
        node_ids = [int(n) for n in g.nodes()]
        edges = _edges_df(spark, edge_list)
        nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
        result = label_propagation(spark, edges, nodes=nodes, max_iterations=5,
                                   stop_on_stable=True)
        got = {r.id: r.label for r in result.state.collect()}
        expected = _lpa_oracle(edge_list, node_ids, result.iterations)
        assert got == expected, name


def test_triangles_exact(spark, graphs):
    for name, g in graphs:
        und = nx.Graph(g)
        und.remove_edges_from(nx.selfloop_edges(und))
        if und.number_of_edges() == 0:
            continue
        edges = _edges_df(spark, g.edges())
        expected_total = sum(nx.triangles(und).values()) // 3
        assert triangle_count(edges) == expected_total, name
        per_node = {r.id: r.triangles for r in triangles_per_node(edges).collect()}
        for node, cnt in nx.triangles(und).items():
            assert per_node.get(int(node), 0) == cnt, (name, node)


def test_clustering_coefficient_matches_networkx(spark, graphs):
    from plwordnet_spark.graph.triangles import clustering_coefficient

    for name, g in graphs:
        und = nx.Graph(g)
        und.remove_edges_from(nx.selfloop_edges(und))
        if und.number_of_edges() == 0:
            continue
        edges = _edges_df(spark, g.edges())
        got = {r.id: (r.degree, r.triangles, r.coeff)
               for r in clustering_coefficient(edges).collect()}
        expected = nx.clustering(und)
        # rows exist exactly for vertices touching >=1 non-loop edge
        assert set(got) == {int(n) for n in und.nodes() if und.degree(n) > 0}, name
        for node, cc in expected.items():
            if int(node) not in got:
                continue
            deg, tri, coeff = got[int(node)]
            assert deg == und.degree(node), (name, node)
            assert abs(coeff - cc) < 1e-12, (name, node, coeff, cc)


def test_degree_distribution_exact(spark, graphs):
    from plwordnet_spark.graph.stats import degree_distribution, degrees

    for name, g in graphs:
        if g.number_of_edges() == 0:
            continue
        edges = _edges_df(spark, g.edges())
        rows = degree_distribution(edges).collect()
        got = {(r.direction, r.degree): r.n_nodes for r in rows}
        from collections import Counter

        out_c = Counter(d for _, d in g.out_degree() if d > 0)
        in_c = Counter(d for _, d in g.in_degree() if d > 0)
        expected = {("out", k): v for k, v in out_c.items()}
        expected.update({("in", k): v for k, v in in_c.items()})
        assert got == expected, name

        per_node = {r.id: (r.out_degree, r.in_degree)
                    for r in degrees(edges).collect()}
        for n in g.nodes():
            od, ind = g.out_degree(n), g.in_degree(n)
            if od == 0 and ind == 0:
                assert int(n) not in per_node, (name, n)
            else:
                assert per_node[int(n)] == (od, ind), (name, n)


def test_pregel_checkpoint_and_resume(spark, tmp_path):
    """Kill-after-k/resume equivalence (SURVEY.md §5.2 #6)."""
    g = nx.gnp_random_graph(60, 0.05, seed=SEED, directed=True)
    edges = _edges_df(spark, g.edges())
    nodes = spark.createDataFrame([(int(n),) for n in g.nodes()], "id long")

    full = pagerank(spark, edges, nodes=nodes, tol=1e-8, max_iterations=100)
    assert full.converged

    # run interrupted: only k iterations, durable checkpoints
    ckpt = str(tmp_path / "pr_ckpt")
    partial = pagerank(
        spark, edges, nodes=nodes, tol=1e-8, max_iterations=5,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    assert not partial.converged

    # resume from the snapshot store and iterate to convergence
    from plwordnet_spark.graph.pregel import PregelRunner
    from plwordnet_spark.storage.snapshots import SnapshotStore

    store = SnapshotStore(spark, ckpt)
    state, entry = store.latest()
    assert entry["iteration"] == 5
    assert entry["metrics"].get("delta") is not None

    resumed = pagerank_resume_helper(spark, edges, nodes, state, entry["iteration"])
    got = {r.id: r.rank for r in resumed.collect()}
    want = {r.id: r.rank for r in full.state.collect()}
    for node_id, rank in want.items():
        assert math.isclose(got[node_id], rank, abs_tol=1e-6)


def pagerank_resume_helper(spark, edges, nodes, state, start_iter):
    """Continue power iteration from a checkpointed rank state."""
    from plwordnet_spark.graph.pagerank import pagerank as _pr

    # re-enter pagerank with initial state by running the same step from
    # the snapshot: reuse pagerank's internals via a fresh run seeded at
    # the checkpoint (the public resume path for PageRank).
    result = _pr(
        spark, edges, nodes=nodes, tol=1e-8, max_iterations=100,
        initial_ranks=state, start_iteration=start_iter,
    )
    return result.state


class TestIncrementalComponents:
    def test_equals_cold_run_on_union(self, spark):
        import random

        from plwordnet_spark.graph.components import (
            connected_components,
            incremental_components,
        )

        rng = random.Random(8)
        old = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
        old = [(u, v) for u, v in old if u != v]
        delta = [(rng.randrange(60), rng.randrange(60)) for _ in range(15)]
        delta = [(u, v) for u, v in delta if u != v]
        old_df = spark.createDataFrame(old, "src long, dst long")
        delta_df = spark.createDataFrame(delta, "src long, dst long")

        prev = connected_components(spark, old_df).state
        warm = incremental_components(spark, prev, delta_df).state
        cold = connected_components(
            spark, old_df.unionByName(delta_df)
        ).state
        w = {r["id"]: r["component"] for r in warm.collect()}
        c = {r["id"]: r["component"] for r in cold.collect()}
        assert w == c

    def test_delta_merges_two_old_components(self, spark):
        from plwordnet_spark.graph.components import (
            connected_components,
            incremental_components,
        )

        old_df = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "src long, dst long"
        )
        prev = connected_components(spark, old_df).state
        res = incremental_components(
            spark,
            prev,
            spark.createDataFrame([(2, 10)], "src long, dst long"),
        )
        got = {r["id"]: r["component"] for r in res.state.collect()}
        assert got == {i: 0 for i in (0, 1, 2, 10, 11)}

    def test_chain_prev_labels_accelerate(self, spark):
        # cold CC on a 64-path needs multiple star rounds; warm with the
        # full previous labeling converges in O(1) rounds
        from plwordnet_spark.graph.components import (
            connected_components,
            incremental_components,
        )

        chain = [(i, i + 1) for i in range(63)]
        df = spark.createDataFrame(chain, "src long, dst long")
        cold = connected_components(spark, df)
        prev = cold.state
        warm = incremental_components(
            spark, prev, spark.createDataFrame([(63, 64)], "src long, dst long")
        )
        assert warm.iterations < cold.iterations
        got = {r["id"]: r["component"] for r in warm.state.collect()}
        assert set(got.values()) == {0} and got[64] == 0
