"""PageRank's per-iteration scalars, pinned against a numpy replay.

The L1 change and the dangling mass are observed on the checkpoint that
materializes each iteration's ranks. These tests replay the same power
iteration in numpy and require every ``metrics[i]["delta"]`` to equal
the replay's L1 on a graph with dangling nodes: a cold start, a warm
start whose initial ranks miss some nodes, and a converging run.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

ALPHA = 0.85
N_NODES = 40
FIRST_DANGLING = 34  # nodes >= this id have no out-edges


def _edge_list():
    rng = random.Random(17)
    edges = {
        (rng.randrange(FIRST_DANGLING), rng.randrange(N_NODES)) for _ in range(160)
    }
    # every dangling node is reachable, so it is in the node universe
    edges |= {(d % FIRST_DANGLING, d) for d in range(FIRST_DANGLING, N_NODES)}
    return sorted((u, v, 1.0 + (u * 7 + v) % 5) for u, v in edges if u != v)


def _replay(edge_list, init, present, iterations, tol=0.0):
    """Power iteration with the engine's rules: ``init`` is the start
    vector (0.0 where absent) and ``present`` marks the nodes it holds;
    the first step's L1 and the dangling mass it feeds into the next
    step count those nodes only. Returns the per-iteration L1 list."""
    src = np.array([u for u, _, _ in edge_list])
    dst = np.array([v for _, v, _ in edge_list])
    w = np.array([x for _, _, x in edge_list])
    n = N_NODES
    out_w = np.bincount(src, weights=w, minlength=n)
    dangling = out_w == 0
    share = w / out_w[src]
    r = np.asarray(init, dtype=np.float64)
    seen = present
    dm = r[dangling & seen].sum()
    deltas = []
    for _ in range(iterations):
        incoming = np.bincount(dst, weights=r[src] * share, minlength=n)
        new = (1.0 - ALPHA) / n + ALPHA * dm / n + ALPHA * incoming
        deltas.append(float(np.abs(new - r)[seen].sum()))
        dm = new[dangling & seen].sum()
        r, seen = new, np.ones(n, dtype=bool)
        if deltas[-1] < n * tol:
            break
    return deltas


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(_edge_list(), "src long, dst long, weight double")


def _assert_deltas(metrics, want):
    got = [m["delta"] for m in metrics]
    assert len(got) == len(want)
    for i, (g, x) in enumerate(zip(got, want)):
        assert math.isclose(g, x, rel_tol=1e-9), (i, g, x)


def test_cold_start_deltas_match_replay(spark, edges):
    from plwordnet_spark.graph.pagerank import pagerank

    res = pagerank(spark, edges, alpha=ALPHA, tol=0.0, max_iterations=12)
    init = np.full(N_NODES, 1.0 / N_NODES)
    want = _replay(_edge_list(), init, np.ones(N_NODES, dtype=bool), 12)
    assert res.iterations == 12
    _assert_deltas(res.metrics, want)


def test_warm_start_missing_nodes_deltas_match_replay(spark, edges):
    from plwordnet_spark.graph.pagerank import pagerank

    known = [i for i in range(N_NODES) if i % 3 != 0]  # misses dangling 36, 39
    rows = [(i, 1.0 / len(known)) for i in known] + [(10_000, 0.5)]  # + an id outside the graph
    initial = spark.createDataFrame(rows, "id long, rank double")
    res = pagerank(
        spark, edges, alpha=ALPHA, tol=0.0, max_iterations=8, initial_ranks=initial
    )
    init = np.zeros(N_NODES)
    present = np.zeros(N_NODES, dtype=bool)
    init[known], present[known] = 1.0 / len(known), True
    _assert_deltas(res.metrics, _replay(_edge_list(), init, present, 8))


def test_converging_run_stops_at_replay_iteration(spark, edges):
    from plwordnet_spark.graph.pagerank import pagerank

    tol = 1e-4
    res = pagerank(spark, edges, alpha=ALPHA, tol=tol, max_iterations=100)
    init = np.full(N_NODES, 1.0 / N_NODES)
    want = _replay(_edge_list(), init, np.ones(N_NODES, dtype=bool), 100, tol=tol)
    assert res.converged
    assert res.iterations == len(want) < 100
    _assert_deltas(res.metrics, want)
