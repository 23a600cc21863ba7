"""Correctness oracles, computed outside every timed region.

Each check returns a list of failure messages (empty when it passes).
The PageRank oracle replays the engine's iterations exactly (same start
vector, same dangling-mass rule, same iteration count), so the ranks
must match after a fixed number of steps, not just at the fixed point.
"""

from __future__ import annotations

import numpy as np

from perfbench.inputs import ALPHA

# HyperLogLog with Spark's default lgConfigK=12 has a relative standard
# error of about 1.04/sqrt(4096) = 1.6%; allow three of them
HLL_MAX_REL_ERR = 0.05


def pagerank_power(src, dst, w, n, init, max_iterations, present=None, tol=0.0, alpha=ALPHA):
    """Power iteration with the engine's semantics over dense indices.
    ``present`` marks the nodes of the start state (default: all); like
    the engine, the first step's delta and dangling mass see only those.
    Stops when the L1 delta falls below ``n * tol`` or after
    ``max_iterations``. Returns (ranks, iterations, deltas)."""
    out_w = np.bincount(src, weights=w, minlength=n)
    share = w / out_w[src]
    dangling = out_w == 0
    seen = np.ones(n, dtype=bool) if present is None else present
    r = np.asarray(init, dtype=np.float64)
    dm = r[dangling].sum()
    deltas = []
    for _ in range(max_iterations):
        incoming = np.bincount(dst, weights=r[src] * share, minlength=n)
        new = (1.0 - alpha) / n + alpha * dm / n + alpha * incoming
        deltas.append(float(np.abs(new - r)[seen].sum()))
        dm = new[dangling & seen].sum()
        r = new
        seen = np.ones(n, dtype=bool)
        if deltas[-1] < n * tol:
            break
    return r, len(deltas), deltas


def check_pagerank(edges, ranks, iterations, expected_iterations, init=None) -> list[str]:
    """``edges``: DataFrame(src, dst, weight); ``ranks``: DataFrame(id,
    rank) after ``iterations`` steps, which must equal the requested
    ``expected_iterations``; ``init``: optional DataFrame(id, rank) warm
    start."""
    ids = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]))
    n = len(ids)
    src = np.searchsorted(ids, edges["src"].to_numpy())
    dst = np.searchsorted(ids, edges["dst"].to_numpy())
    present = None
    if init is None:
        start = np.full(n, 1.0 / n)
    else:
        start, present = np.zeros(n), np.zeros(n, dtype=bool)
        known = np.isin(init["id"].to_numpy(), ids)
        at = np.searchsorted(ids, init["id"].to_numpy()[known])
        start[at], present[at] = init["rank"].to_numpy()[known], True
    want, _, _ = pagerank_power(src, dst, edges["weight"].to_numpy(), n, start, expected_iterations, present)
    failures = []
    if iterations != expected_iterations:
        failures.append(f"pagerank ran {iterations} iterations, {expected_iterations} requested")
    got = ranks.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        failures.append(f"pagerank node set differs: {len(got)} ranks for {n} nodes")
    elif not np.allclose(got["rank"].to_numpy(), want, rtol=0, atol=1e-6):
        worst = float(np.abs(got["rank"].to_numpy() - want).max())
        failures.append(f"pagerank ranks differ from power iteration by up to {worst:.3g}")
    return failures


def _union_find_min(src, dst) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_components(edges, components) -> list[str]:
    want = _union_find_min(edges["src"].to_numpy(), edges["dst"].to_numpy())
    got = dict(zip(components["id"].tolist(), components["component"].tolist()))
    if got != want:
        bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
        return [f"components differ from union-find on {bad} nodes"]
    return []


def check_labels(edges, labels) -> list[str]:
    comp = _union_find_min(edges["src"].to_numpy(), edges["dst"].to_numpy())
    bad = [
        (node, label)
        for node, label in zip(labels["id"].tolist(), labels["label"].tolist())
        if label not in comp or comp[label] != comp.get(node)
    ]
    if set(labels["id"].tolist()) != set(comp):
        return ["label propagation node set differs from the graph's"]
    return [f"{len(bad)} labels are not node ids of the same component"] if bad else []


def check_triangles(edges, count: int) -> list[str]:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    want = sum(nx.triangles(g).values()) // 3
    return [] if count == want else [f"triangles {count} != networkx {want}"]


def text_mismatches(pages, parsed) -> int:
    """Pages whose extracted text differs from the generator's ground
    truth, byte for byte (a page missing from ``parsed`` counts)."""
    got = dict(zip(parsed["url"].tolist(), parsed["text"].tolist()))
    return sum(1 for u, t in zip(pages["url"].tolist(), pages["text"].tolist()) if got.get(u) != t)


def check_text(pages, parsed) -> list[str]:
    failures = []
    if len(parsed) != len(pages):
        failures.append(f"parsed {len(parsed)} pages, expected {len(pages)}")
    mismatches = text_mismatches(pages, parsed)
    if mismatches:
        failures.append(f"{mismatches} extracted texts differ from ground truth")
    return failures


def check_validate(report: dict) -> list[str]:
    failures = []
    if report.get("edges") != report.get("link_pairs"):
        failures.append(f"validate_graph edges != link_pairs: {report}")
    if report.get("id_collisions") or report.get("edges_without_dst_node"):
        failures.append(f"validate_graph reports violations: {report}")
    return failures


def check_streamed_edges(streamed, batch, approx_distinct: int) -> list[str]:
    cols = ["src", "dst", "rel_id", "weight"]
    a = streamed[cols].sort_values(cols).reset_index(drop=True)
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    failures = []
    if not a.equals(b):
        failures.append(f"streamed edge table ({len(a)} rows) != build_graph edges ({len(b)} rows)")
    exact = len(a)
    if exact == 0 or abs(approx_distinct - exact) / exact > HLL_MAX_REL_ERR:
        failures.append(f"approx_distinct_edges {approx_distinct} vs exact {exact}")
    return failures
