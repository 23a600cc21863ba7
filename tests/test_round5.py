"""Round-5 additions: ppr_batch checkpoint/resume, cache-release
handles, ingest sketch amortization invariants."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F


def _graph(spark, seed=5, n=60, m=300):
    rng = random.Random(seed)
    rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    rows = [(s, d) for s, d in rows if s != d]
    # ring so every node has out-degree >= 1 is NOT added: ppr handles
    # dangling mass explicitly and the test should cover that path
    return spark.createDataFrame(rows, "src long, dst long")


def _state_map(res):
    return {(r.id, r.seed): r.rank for r in res.state.collect()}


def _assert_close(got, want, tol=1e-9):
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < tol, (k, got[k], want[k])


# --- ppr_batch checkpoint/resume (VERDICT r4 task 4) ----------------------


def test_ppr_batch_kill_and_resume_matches_uninterrupted(spark, tmp_path):
    """A ppr_batch run killed mid-flight (simulated: the final exit
    snapshot is expired from the manifest, leaving only the last
    interval checkpoint — exactly what a crash between checkpoints
    leaves behind) and resumed must converge to the same (id, seed,
    rank) state as an uninterrupted run."""
    from plwordnet_spark.graph.ppr import ppr_batch

    edges = _graph(spark)
    seeds = [0, 7, 13]
    ckpt = str(tmp_path / "ppr_ckpt")

    # phase 1: partial run with durable snapshots every 2 iterations
    ppr_batch(
        spark, edges, seeds, tol=0.0, max_iterations=3,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    manifest_path = os.path.join(ckpt, "manifest.json")
    with open(manifest_path, encoding="utf-8") as fh:
        entries = json.load(fh)
    assert [e["iteration"] for e in entries] == [2, 3]
    # simulate the kill: drop the exit snapshot so the newest committed
    # state is the mid-run interval checkpoint at iteration 2
    entries[-1]["expired"] = True
    with open(manifest_path, "w", encoding="utf-8") as fh:
        json.dump(entries, fh)

    resumed = ppr_batch(
        spark, edges, seeds, tol=0.0, max_iterations=8,
        checkpoint_dir=ckpt, checkpoint_interval=2, resume=True,
    )
    assert resumed.iterations == 8  # continued 3..8, not restarted

    plain = ppr_batch(spark, edges, seeds, tol=0.0, max_iterations=8)
    _assert_close(_state_map(resumed), _state_map(plain))


def test_ppr_batch_resume_empty_store_runs_fresh(spark, tmp_path):
    from plwordnet_spark.graph.ppr import ppr_batch

    edges = _graph(spark, seed=6)
    res = ppr_batch(
        spark, edges, [1, 2], tol=0.0, max_iterations=4,
        checkpoint_dir=str(tmp_path / "empty_ckpt"), resume=True,
    )
    plain = ppr_batch(spark, edges, [1, 2], tol=0.0, max_iterations=4)
    _assert_close(_state_map(res), _state_map(plain))


def test_ppr_batch_resume_requires_checkpoint_dir(spark):
    from plwordnet_spark.graph.ppr import ppr_batch

    with pytest.raises(ValueError, match="checkpoint_dir"):
        ppr_batch(_graph(spark).sparkSession, _graph(spark), [0], resume=True)


# --- deterministic random walks (round 5) ---------------------------------


def _py_walks(rows, L, W, seed):
    """Pure-Python replay of random_walks' sampler + CDF."""
    from collections import defaultdict

    from plwordnet_spark.graph.walks import _C, _P, _R1, _R2, _R3, _R4

    agg = defaultdict(float)
    for s, d, w in rows:
        agg[(s, d)] += w
    nbrs = defaultdict(list)
    for (s, d), w in sorted(agg.items()):
        nbrs[s].append((d, w))
    cdf = {}
    for s, lst in nbrs.items():
        tot = sum(w for _, w in lst)
        c, spans = 0.0, []
        for d, w in lst:
            c += w
            spans.append((d, (c - w) / tot, c / tot))
        cdf[s] = spans

    def u_of(start, walk, step):
        h = (
            (start % _P) * _R1
            + (walk * _R4) % _P
            + (step * _R2) % _P
            + (seed * _R3 + _C) % _P
        ) % _P
        return ((h * _R2 + _C) % _P) / _P

    want = set()
    for start in sorted(nbrs):
        for k in range(W):
            node = start
            want.add((start, k, 0, node))
            for step in range(1, L + 1):
                if node not in cdf:
                    break
                u = u_of(start, k, step)
                node = next(d for d, lo, hi in cdf[node] if lo <= u < hi)
                want.add((start, k, step, node))
    return want


def test_random_walks_match_pure_python_and_partitioning(spark):
    from plwordnet_spark.graph.walks import random_walks

    rng = random.Random(7)
    rows = [
        (rng.randrange(40), rng.randrange(40), float(rng.randrange(1, 4)))
        for _ in range(200)
    ]
    rows = [r for r in rows if r[0] != r[1]]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    want = _py_walks(rows, L=5, W=2, seed=99)

    res = random_walks(spark, edges, walk_length=5, walks_per_node=2, seed=99)
    got = {(r.start, r.walk, r.step, r.node) for r in res.collect()}
    assert got == want

    # partitioning must not change a single sampled hop
    res2 = random_walks(
        spark, edges.repartition(13), walk_length=5, walks_per_node=2, seed=99
    )
    assert {(r.start, r.walk, r.step, r.node) for r in res2.collect()} == want


def test_random_walks_dangling_stop_and_weight_bias(spark):
    from plwordnet_spark.graph.walks import random_walks

    # 0 -> {1 (w 99), 2 (w 1)}; 1 and 2 are dangling
    edges = spark.createDataFrame(
        [(0, 1, 99.0), (0, 2, 1.0)], "src long, dst long, weight double"
    )
    res = random_walks(
        spark, edges, walk_length=4, walks_per_node=64, seed=3
    ).collect()
    by_step = {}
    for r in res:
        by_step.setdefault(r.step, []).append(r.node)
    # walks stop after one hop (both destinations dangle)
    assert set(by_step) == {0, 1}
    assert len(by_step[0]) == 64
    # ~99% of mass should pick node 1
    picks = by_step[1]
    assert len(picks) == 64
    assert picks.count(1) >= 58


# --- temporal joins (round 5): as-of + binned range join ------------------


def _events(spark, n=400, seed=17, users=12):
    import datetime

    rng = random.Random(seed)
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(seconds=rng.randrange(0, 30 * 86400)),
            rng.randrange(users),
            rng.choice(["view", "click", "error"]),
            round(rng.uniform(0, 100), 2),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def _py_asof(left_rows, right_rows, direction="backward", strict=False,
             tolerance_sec=None):
    """left/right: (id, key, ts). → {left_id: right_id | None}."""
    out = {}
    for lid, lk, lt in left_rows:
        best = None
        for rid, rk, rt in right_rows:
            if rk != lk:
                continue
            if direction == "backward":
                ok = rt < lt if strict else rt <= lt
            else:
                ok = rt > lt if strict else rt >= lt
            if not ok:
                continue
            if tolerance_sec is not None and abs((lt - rt).total_seconds()) > tolerance_sec:
                continue
            if best is None:
                best = (rid, rt)
            elif direction == "backward" and (rt, rid) > (best[1], best[0]):
                best = (rid, rt)
            elif direction == "forward" and (rt, -rid) < (best[1], -best[0]):
                best = (rid, rt)
        out[lid] = best[0] if best else None
    return out


@pytest.mark.parametrize("direction,strict", [
    ("backward", False), ("backward", True),
    ("forward", False), ("forward", True),
])
def test_asof_join_matches_pure_python(spark, direction, strict):
    from plwordnet_spark.temporal import asof_join

    ev = _events(spark)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # dedupe right per (user, ts) to make tie-resolution deterministic
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("event_id").alias("vid"))
    )
    got_rows = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="vts",
        direction=direction, strict=strict,
    ).collect()
    got = {r.event_id: r.vid_r for r in got_rows}

    lrows = [(r.event_id, r.user_id, r.ts) for r in left.collect()]
    rrows = [(r.vid, r.user_id, r.vts) for r in right.collect()]
    want = _py_asof(lrows, rrows, direction=direction, strict=strict)
    assert got == want


def test_asof_join_tolerance(spark):
    from plwordnet_spark.temporal import asof_join

    ev = _events(spark, seed=18)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("event_id").alias("vid"))
    )
    tol = 6 * 3600.0
    got = {
        r.event_id: r.vid_r
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="vts",
            tolerance_sec=tol,
        ).collect()
    }
    lrows = [(r.event_id, r.user_id, r.ts) for r in left.collect()]
    rrows = [(r.vid, r.user_id, r.vts) for r in right.collect()]
    want = _py_asof(lrows, rrows, tolerance_sec=tol)
    assert got == want
    assert any(v is None for v in got.values())  # tolerance actually bites


def test_range_join_bins_matches_inequality_join(spark):
    """Binned equi-join must equal the literal inequality join for any
    bin width; half-open boundary semantics included."""
    from plwordnet_spark.temporal import range_join_bins

    ev = _events(spark, seed=19)
    points = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("pid"), "user_id", "ts"
    )
    iv = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("iid"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("hi"),
    )
    want = {
        (r.pid, r.iid)
        for r in points.join(iv, "user_id")
        .filter((F.col("lo") <= F.col("ts")) & (F.col("ts") < F.col("hi")))
        .collect()
    }
    assert want  # non-trivial
    for width in (1800.0, 3600.0, 7 * 3600.0):
        got = {
            (r.pid, r.iid)
            for r in range_join_bins(
                points, iv, point_col="ts", lo_col="lo", hi_col="hi",
                on="user_id", bin_width_sec=width,
            ).collect()
        }
        assert got == want, width


def test_range_join_bins_guard_rejects_pathological_interval(spark):
    from plwordnet_spark.temporal import range_join_bins

    ev = _events(spark, n=50, seed=20)
    points = ev.select(F.col("event_id").alias("pid"), "user_id", "ts")
    iv = ev.limit(5).select(
        F.col("event_id").alias("iid"), "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("hi"),
    )
    with pytest.raises(Exception, match="max_bins_per_interval"):
        range_join_bins(
            points, iv, point_col="ts", lo_col="lo", hi_col="hi",
            on="user_id", bin_width_sec=60.0, max_bins_per_interval=100,
        ).count()


# --- new link-prediction indices (round 5) --------------------------------


def _py_neighbor_sets(rows):
    und = {(min(s, d), max(s, d)) for s, d in rows if s != d}
    nbrs: dict[int, set] = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    return nbrs


def test_resource_allocation_matches_pure_python(spark):
    from plwordnet_spark.graph.linkpred import resource_allocation

    edges = _graph(spark, seed=13)
    rows = [(r.src, r.dst) for r in edges.collect()]
    nbrs = _py_neighbor_sets(rows)
    want = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            shared = nbrs[a] & nbrs[b]
            if shared:
                want[(a, b)] = sum(1.0 / len(nbrs[z]) for z in shared)
    got = {(r.a, r.b): r.score for r in resource_allocation(edges).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_jaccard_coefficient_matches_pure_python(spark):
    from plwordnet_spark.graph.linkpred import jaccard_coefficient

    edges = _graph(spark, seed=14)
    rows = [(r.src, r.dst) for r in edges.collect()]
    nbrs = _py_neighbor_sets(rows)
    want = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            common = len(nbrs[a] & nbrs[b])
            if common >= 1:
                want[(a, b)] = common / len(nbrs[a] | nbrs[b])
    got = {(r.a, r.b): r.score for r in jaccard_coefficient(edges).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_jaccard_max_degree_caps_intersection_only(spark):
    """With a binding cap, the hub is excluded from intersections but
    full degrees still form the denominator."""
    from plwordnet_spark.graph.linkpred import jaccard_coefficient

    # star: hub 0 linked to 1..5; plus 1-2 and 1-3 direct links
    rows = [(0, i) for i in range(1, 6)] + [(1, 2), (1, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    # cap 4 < hub degree 5: hub 0 can no longer BE a shared neighbor,
    # so pairs sharing only the hub (e.g. (4,5)) disappear; two-paths
    # through capped nodes 1/2/3 survive, and denominators keep the
    # TRUE degrees (hub deg(0)=5 included)
    got = {(r.a, r.b): r.score for r in
           jaccard_coefficient(edges, max_degree=4).collect()}
    want = {
        (0, 1): 2 / (5 + 3 - 2),  # z in {2,3}
        (0, 2): 1 / (5 + 2 - 1),  # z = 1
        (0, 3): 1 / (5 + 2 - 1),
        (2, 3): 1 / (2 + 2 - 1),  # z = 1 only (hub excluded)
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


# --- single-job staged ingest commit (VERDICT r4 task 2) ------------------


def _pages(spark, n=400, seed=11):
    from plwordnet_spark.corpus import generate_pages

    return generate_pages(spark, n, seed)


def test_merge_batch_single_job_commit_carries_sketch(spark, tmp_path):
    """merge_batch commits the delta with its fingerprint AND edge_hll
    sketch in ONE manifest entry (no separate patch step — a crash can
    never leave a committed delta without its stats)."""
    from plwordnet_spark.streaming.ingest import EdgeLog

    log = EdgeLog(spark, str(tmp_path / "log"), compact_every=10)
    assert log.merge_batch(_pages(spark), batch_id=0) is True
    [entry] = log.store.manifest()
    m = entry["metrics"]
    assert m["kind"] == "delta"
    assert m["pages_in_batch"] == 400
    assert m["content_hash"] and m["edge_hll"]
    # the sketch must estimate the actual distinct edge count
    merged, _ = log.latest()
    exact = merged.count()
    approx = log.approx_distinct_edges()
    assert abs(approx - exact) / exact < 0.05


def test_merge_batch_replay_abandons_staging(spark, tmp_path):
    """A byte-identical replay is skipped: no new manifest entry, no
    weight double-count, and the staged directory is cleaned up."""
    from plwordnet_spark.streaming.ingest import EdgeLog

    root = str(tmp_path / "log")
    log = EdgeLog(spark, root, compact_every=10)
    pages = _pages(spark)
    assert log.merge_batch(pages, batch_id=3) is True
    before = log.latest()[0].agg(F.sum("weight").alias("w")).first()["w"]

    assert log.merge_batch(pages, batch_id=3) is False  # replay
    assert len(log.store.manifest()) == 1
    after = log.latest()[0].agg(F.sum("weight").alias("w")).first()["w"]
    assert after == before
    assert not [d for d in os.listdir(root) if d.startswith("_staged_")]

    # same batch_id but CHANGED content must merge (recrawl semantics)
    assert log.merge_batch(_pages(spark, seed=12), batch_id=3) is True
    assert len(log.store.manifest()) == 2


def _sql_cache_empty(spark) -> bool:
    """True when the SQL cache manager holds no cached plans — the
    registry every DataFrame cache()/persist() goes through (unlike the
    raw RDD registry, it is not polluted by other tests' localCheckpoint
    RDDs or the async ContextCleaner)."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cache_scope_releases_linkpred_caches(spark):
    """VERDICT r4 item 5: a consume-and-release cycle leaves NO net
    cached plans (asserted against the JVM SQL cache manager)."""
    from plwordnet_spark.cache import CacheScope
    from plwordnet_spark.graph.linkpred import adamic_adar, common_neighbors

    spark.catalog.clearCache()
    edges = _graph(spark, seed=9)
    with CacheScope() as scope:
        aa = adamic_adar(edges, top_k=3, scope=scope)
        cn = common_neighbors(edges, min_common=1, scope=scope)
        assert aa.count() > 0 and cn.count() > 0
        assert not _sql_cache_empty(spark)  # caches live while consuming
    assert _sql_cache_empty(spark)


def test_cache_scope_releases_dedup_caches(spark):
    from plwordnet_spark.cache import CacheScope
    from plwordnet_spark.textops.dedup import (
        exact_jaccard_for_pairs,
        minhash_lsh_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 7}")
         for i in range(40)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    with CacheScope() as scope:
        kept, pairs = minhash_lsh_dedup(spark, docs, threshold=0.5, scope=scope)
        verified = exact_jaccard_for_pairs(
            pairs.select("id_a", "id_b"), docs, scope=scope
        )
        assert kept.count() > 0
        verified.count()
        assert not _sql_cache_empty(spark)
    assert _sql_cache_empty(spark)


def test_cache_scope_without_scope_behavior_unchanged(spark):
    """No scope → old contract: the internal cache stays alive for the
    returned plan (re-count hits the cache), reclaimable via catalog."""
    from plwordnet_spark.graph.linkpred import adamic_adar

    spark.catalog.clearCache()
    out = adamic_adar(_graph(spark, seed=10), top_k=3)
    assert out.count() > 0
    assert not _sql_cache_empty(spark)
    spark.catalog.clearCache()
    assert _sql_cache_empty(spark)


def test_compaction_base_sketch_is_metadata_union(spark, tmp_path):
    """The compacted base's edge_hll comes from the metadata-only HLL
    union of the chain's sketches and still estimates the folded table's
    distinct edges."""
    from plwordnet_spark.streaming.ingest import EdgeLog

    log = EdgeLog(spark, str(tmp_path / "log"), compact_every=2)
    log.merge_batch(_pages(spark, n=300, seed=21), batch_id=0)
    log.merge_batch(_pages(spark, n=300, seed=22), batch_id=1)  # compacts
    live = [e for e in log.store.manifest() if not e.get("expired")]
    assert [e["metrics"]["kind"] for e in live] == ["base"]
    assert live[0]["metrics"]["edge_hll"]
    merged, _ = log.latest()
    exact = merged.count()
    assert abs(log.approx_distinct_edges() - exact) / exact < 0.05


def test_pmi_bigrams_matches_pure_python(spark):
    """PMI bigrams vs an exhaustive pure-Python count over the same
    tokenization (lower, trim, \\s+ split)."""
    import math
    from collections import Counter

    from plwordnet_spark.textops.collocations import pmi_bigrams

    texts = [
        "new york is a big city",
        "New York  has a   harbor",
        "the city of new york",
        "a harbor city",
        "",
        "   ",
        "york",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r["w1"], r["w2"]): (r["n12"], r["pmi"])
        for r in pmi_bigrams(docs, min_count=2).collect()
    }

    uni, big = Counter(), Counter()
    n_pairs = 0
    for t in texts:
        ws = t.strip().lower().split()
        uni.update(ws)
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
            n_pairs += 1
    N = sum(uni.values())
    want = {
        (a, b): (n, round(math.log2((n / n_pairs) / ((uni[a] / N) * (uni[b] / N))), 6))
        for (a, b), n in big.items()
        if n >= 2
    }
    assert ("new", "york") in want and want[("new", "york")][0] == 3
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9


def test_tfidf_top_terms_matches_pure_python(spark):
    """tfidf_top_terms vs an exhaustive pure-Python sklearn-smoothed
    TF-IDF over the same tokenization, including tie-break by term."""
    import math
    from collections import Counter

    from plwordnet_spark.textops.tfidf import tfidf_top_terms

    texts = {
        0: "spark spark shuffle join",
        1: "join join join scan",
        2: "spark scan scan",
        3: "",
        4: "unique",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["score"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }

    N = len(texts)
    tf = {i: Counter(t.strip().lower().split()) for i, t in texts.items()}
    df = Counter(w for c in tf.values() for w in c)
    want = {}
    for i, c in tf.items():
        scored = sorted(
            ((w, n, n * (math.log((N + 1) / (df[w] + 1)) + 1)) for w, n in c.items()),
            key=lambda x: (-x[2], x[0]),
        )
        for rank, (w, n, s) in enumerate(scored[:2], start=1):
            want[(i, rank)] = (w, n, round(s, 6))
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0]
        assert got[key][1] == want[key][1]
        assert abs(got[key][2] - want[key][2]) < 1e-9
    assert (3, 1) not in got  # empty doc contributes no rows


def test_katz_centrality_matches_numpy(spark):
    """Fixed-k Katz vs a dense numpy replay of x_{t+1} = a*A^T x + b,
    L2-normalized; and normalize=False returns the raw series."""
    import numpy as np

    from plwordnet_spark.graph.katz import katz_centrality

    rng = np.random.RandomState(7)
    n = 40
    pairs = {(int(a), int(b)) for a, b in rng.randint(0, n, size=(160, 2)) if a != b}
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")

    res = katz_centrality(spark, edges, alpha=0.08, beta=1.0, tol=0.0,
                          max_iterations=12, normalize=True)
    got = {r["id"]: r["katz"] for r in res.state.collect()}

    ids = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for a, b in pairs:
        A[idx[a], idx[b]] = 1.0
    x = np.ones(len(ids))
    for _ in range(12):
        x = 0.08 * A.T @ x + 1.0
    x = x / np.sqrt((x ** 2).sum())
    assert set(got) == set(ids)
    for v in ids:
        assert abs(got[v] - x[idx[v]]) < 1e-9

    raw = katz_centrality(spark, edges, alpha=0.08, beta=1.0, tol=0.0,
                          max_iterations=12, normalize=False)
    raw_min = min(r["katz"] for r in raw.state.collect())
    assert raw_min >= 1.0  # beta floor: every vertex keeps the additive term


def test_katz_convergence_and_guards(spark):
    """tol>0 stops before max_iterations on a small damped graph; alpha
    outside (0,1) is rejected."""
    import pytest as _pytest

    from plwordnet_spark.graph.katz import katz_centrality

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    res = katz_centrality(spark, edges, alpha=0.1, tol=1e-10, max_iterations=60)
    assert res.converged and res.iterations < 60
    with _pytest.raises(ValueError):
        katz_centrality(spark, edges, alpha=1.5)


def test_ktruss_matches_pure_python_peeling(spark):
    """ktruss vs an exhaustive pure-Python peel on a random graph, for
    k=3..5; plus guards (k<3 rejected; empty truss on a triangle-free
    graph)."""
    import numpy as np
    import pytest as _pytest

    from plwordnet_spark.graph.truss import ktruss

    rng = np.random.RandomState(11)
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.randint(0, 30, size=(220, 2))
        if a != b
    }
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")

    def py_truss(es, k):
        es = set(es)
        while True:
            adj = {}
            for a, b in es:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            sup = {
                (a, b): len(adj[a] & adj[b]) for a, b in es
            }
            keep = {e for e in es if sup[e] >= k - 2}
            if keep == es:
                return es
            es = keep

    for k in (3, 4, 5):
        got = {(r["a"], r["b"]) for r in ktruss(spark, edges, k).collect()}
        assert got == py_truss(pairs, k), f"k={k}"

    with _pytest.raises(ValueError):
        ktruss(spark, edges, 2)
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert ktruss(spark, path, 3).count() == 0
