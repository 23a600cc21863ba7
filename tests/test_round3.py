"""Round-3 regression tests: frontier-based BFS/SSSP, runner validation,
incremental ingest, size-conditional broadcast, HITS job-count cuts."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# frontier-based BFS/SSSP (VERDICT r2 task 1)
# ---------------------------------------------------------------------------

def test_bfs_relaxes_frontier_not_reached_set(spark):
    """On a path graph the reached set grows linearly but the frontier is
    always exactly one node: per-round frontier_rows (the rows entering
    the next relax join) must stay at 1, not track |reached|."""
    from plwordnet_spark.graph.bfs import bfs_distances

    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    res = bfs_distances(spark, edges, sources=[0], max_iterations=n + 5)
    dists = {r.id: r.dist for r in res.state.collect()}
    assert dists == {i: i for i in range(n)}
    assert res.converged
    frontier = [m["frontier_rows"] for m in res.metrics]
    # every round discovers exactly one new node, then the frontier dries up
    assert all(f <= 1 for f in frontier)
    assert sum(frontier) == n - 1
    assert frontier[-1] == 0


def test_sssp_frontier_reemits_on_improvement(spark):
    """A node whose dist improves AFTER first discovery must re-enter the
    frontier and propagate the improvement (delta Bellman-Ford, not
    first-visit BFS)."""
    from plwordnet_spark.graph.bfs import sssp_distances

    # 0→1 heavy direct edge; cheap long way 0→2→3→1 discovered later;
    # 1→4 must end up with the improved upstream dist.
    edges = spark.createDataFrame(
        [
            (0, 1, 10.0),
            (0, 2, 1.0),
            (2, 3, 1.0),
            (3, 1, 1.0),
            (1, 4, 1.0),
        ],
        "src long, dst long, weight double",
    )
    res = sssp_distances(spark, edges, sources=[0], directed=True)
    dists = {r.id: r.dist for r in res.state.collect()}
    assert dists == {0: 0.0, 1: 3.0, 2: 1.0, 3: 2.0, 4: 4.0}
    # node 1 changed twice (10.0 then 3.0) → total frontier traffic is
    # still tiny and the run converged with an empty frontier
    assert res.converged
    assert res.metrics[-1]["frontier_rows"] == 0


# ---------------------------------------------------------------------------
# runner validation (ADVICE r2)
# ---------------------------------------------------------------------------

def test_retain_snapshots_rejects_below_two(spark):
    from plwordnet_spark.graph.pregel import PregelRunner

    for bad in (0, 1):
        with pytest.raises(ValueError):
            PregelRunner(spark, retain_snapshots=bad)
    PregelRunner(spark, retain_snapshots=2)  # boundary ok
    PregelRunner(spark, retain_snapshots=None)  # audit mode ok


# ---------------------------------------------------------------------------
# incremental ingest: O(batch) writes + compaction (VERDICT r2 task 2)
# ---------------------------------------------------------------------------

def test_ingest_writes_deltas_not_full_table(spark, tmp_path):
    """Each micro-batch must write only its own edges (O(batch) bytes),
    never a rewrite of the whole merged table; compaction folds the
    chain into a base and the folded read equals the batch build."""
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph
    from plwordnet_spark.streaming.ingest import (
        EdgeLog,
        read_page_stream,
        stream_pages_to_edges,
    )

    pages = generate_pages(spark, 150, 42).cache()
    src_dir = tmp_path / "pages_in"
    src_dir.mkdir()
    for i, (lo, hi) in enumerate([(0, 50), (50, 100), (100, 150)]):
        (
            pages.filter(
                f"cast(split_part(url, '/p/', 2) as long) >= {lo} and "
                f"cast(split_part(url, '/p/', 2) as long) < {hi}"
            )
            .coalesce(1)
            .write.parquet(str(src_dir / f"batch{i}"))
        )
    edges_dir = str(tmp_path / "edges_log")
    q = stream_pages_to_edges(
        spark,
        read_page_stream(spark, str(src_dir) + "/*", max_files_per_trigger=1),
        edges_dir,
        str(tmp_path / "ckpt"),
        compact_every=10,  # no compaction within 3 batches
    )
    q.awaitTermination(120)

    log = EdgeLog(spark, edges_dir)
    deltas = [
        e for e in log.store.manifest()
        if e["metrics"].get("kind") == "delta" and not e.get("expired")
    ]
    assert len(deltas) == 3
    delta_rows = [spark.read.parquet(e["path"]).count() for e in deltas]
    merged, _ = log.latest()
    merged.cache()
    n_merged = merged.count()
    # O(batch): every delta holds roughly one batch's edges — none grows
    # toward the cumulative table size (a full-rewrite log would have
    # rows ≈ [1x, 2x, 3x batch])
    assert max(delta_rows) < 0.6 * n_merged, (delta_rows, n_merged)
    assert max(delta_rows) <= 2 * min(delta_rows), delta_rows

    # the folded chain equals the one-shot batch build
    got = {(r.src, r.dst, r.rel_id): r.weight for r in merged.collect()}
    want = {
        (r.src, r.dst, r.rel_id): r.weight
        for r in build_graph(pages).edges
        .select("src", "dst", "rel_id", "weight").collect()
    }
    assert got == want
    merged.unpersist()

    # force a compaction by appending through a tighter log
    tight = EdgeLog(spark, edges_dir, compact_every=1)
    extra = spark.createDataFrame(
        [(1, 2, 1, 1.0)], "src long, dst long, rel_id int, weight double"
    )
    tight.append(extra, batch_id=99, metrics={"batch_id": 99})
    manifest = tight.store.manifest()
    bases = [e for e in manifest if e["metrics"].get("kind") == "base"]
    assert bases and not bases[-1].get("expired")
    live = [e for e in manifest if not e.get("expired")]
    assert len(live) == 1  # chain folded into the single base
    merged2, _ = tight.latest()
    assert merged2.count() == n_merged + 1  # the extra edge survived
    # expired delta entries keep their replay fingerprints
    assert all("metrics" in e for e in manifest)
    pages.unpersist()


def test_edgelog_sketch_stats_match_exact(spark, tmp_path):
    """Per-snapshot HLL sketches in the manifest must merge to the
    folded table's distinct-edge count without reading any data files
    (Iceberg per-snapshot NDV stats analog); overlapping edges across
    snapshots count once."""
    from plwordnet_spark.streaming.ingest import EdgeLog

    log = EdgeLog(spark, str(tmp_path / "log"), compact_every=100)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "src long, dst long, rel_id int, weight double"
    )
    # batch edges overlap: (1,2) appears in both deltas
    log.append(mk([(1, 2, 1, 1.0), (3, 4, 1, 1.0)]), 0, {"batch_id": 0})
    log.append(mk([(1, 2, 1, 2.0), (5, 6, 2, 1.0)]), 1, {"batch_id": 1})
    exact = log.latest()[0].count()
    assert exact == 3
    est = log.approx_distinct_edges()
    assert est == exact  # tiny cardinality → HLL is exact
    # every live entry carries a sketch
    assert all(e["metrics"]["edge_hll"] for e in log._chain())
    # a 0-row delta still stores a real (empty) sketch, so the estimate
    # needs no exact-count fallback
    log.append(mk([]), 2, {"batch_id": 2})
    assert len(log._chain()) == 3
    assert all(e["metrics"]["edge_hll"] for e in log._chain())
    assert log.approx_distinct_edges() == exact
    # compaction over [empty delta, 2-edge delta]: the base's sketch is
    # the union of the chain's sketches alone (no rescan of the base)
    tight = EdgeLog(spark, str(tmp_path / "tight"), compact_every=2)
    tight.append(mk([]), 0, {"batch_id": 0})
    tight.append(mk([(1, 2, 1, 1.0), (3, 4, 1, 1.0)]), 1, {"batch_id": 1})
    *deltas, base = tight.store.manifest()
    assert [e["metrics"]["kind"] for e in deltas] == ["delta", "delta"]
    assert base["metrics"]["kind"] == "base" and tight._chain() == [base]
    union = spark.createDataFrame(
        [(base64.b64decode(e["metrics"]["edge_hll"]),) for e in deltas], "s binary"
    ).agg(F.expr("hll_union_agg(s)").alias("u")).first()["u"]
    assert base["metrics"]["edge_hll"] == base64.b64encode(bytes(union)).decode()
    assert tight.approx_distinct_edges() == tight.latest()[0].count() == 2



def test_edgelog_append_folds_duplicate_keys(spark, tmp_path):
    """A delta with a repeated (src, dst, rel_id) key is stored folded:
    a one-snapshot chain is read back as stored, so the first append
    must already read back one row per edge, as later folds do."""
    from plwordnet_spark.streaming.ingest import EdgeLog

    log = EdgeLog(spark, str(tmp_path / "log"), compact_every=100)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "src long, dst long, rel_id int, weight double"
    )
    log.append(mk([(1, 2, 1, 1.0), (1, 2, 1, 1.0), (1, 2, 2, 1.0)]), 0, {"batch_id": 0})
    rows = lambda: sorted(tuple(r) for r in log.latest()[0].collect())  # noqa: E731
    assert rows() == [(1, 2, 1, 2.0), (1, 2, 2, 1.0)]
    log.append(mk([(1, 2, 1, 1.0)]), 1, {"batch_id": 1})
    assert rows() == [(1, 2, 1, 3.0), (1, 2, 2, 1.0)]
    assert log.approx_distinct_edges() == 2

# ---------------------------------------------------------------------------
# size-conditional broadcast (VERDICT r2 task 3)
# ---------------------------------------------------------------------------

def test_exact_jaccard_broadcast_is_size_conditional(spark):
    """With the broadcast hint disabled (threshold 0) the shuffled
    semi-join path must produce identical jaccards — a candidate set too
    big for the driver degrades instead of OOMing."""
    from plwordnet_spark.textops.dedup import exact_jaccard_for_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six"),
            (4, "alpha beta gamma other words here"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    broadcasted = exact_jaccard_for_pairs(pairs, docs)
    # threshold 0 forces the no-hint path (Catalyst may still choose a
    # broadcast strategy for tiny test data — the contract here is that
    # the un-hinted plan is legal and value-identical)
    shuffled = exact_jaccard_for_pairs(pairs, docs, max_broadcast_ids=0)
    got_b = sorted(map(tuple, broadcasted.collect()))
    got_s = sorted(map(tuple, shuffled.collect()))
    assert got_b == got_s and len(got_b) == 2  # (1,3) shares no shingle


def test_landmark_distances_match_per_source_bfs(spark):
    """The composite-key flood must equal K independent BFS runs, with
    unreached (id, landmark) pairs absent (sparse state)."""
    from collections import deque

    from plwordnet_spark.graph.bfs import landmark_distances

    edges_py = [
        (0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (4, 5), (5, 6),
        (7, 8),  # separate component
        (0, 4), (6, 2), (1, 5),
    ]
    edges = spark.createDataFrame(edges_py, "src long, dst long")

    def bfs_py(src):
        adj: dict = {}
        for s, d in edges_py:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    lms = [0, 7, 5]
    res = landmark_distances(spark, edges, landmarks=lms)
    got = {(r.id, r.landmark): r.dist for r in res.state.collect()}
    want = {(n, lm): d for lm in lms for n, d in bfs_py(lm).items()}
    assert got == want  # equality INCLUDING absence of unreached pairs
    assert res.converged
    # a landmark absent from the edge set emits NO phantom (lm, lm, 0)
    res2 = landmark_distances(spark, edges, landmarks=[0, 999])
    got2 = {(r.id, r.landmark): r.dist for r in res2.state.collect()}
    assert got2 == {(n, 0): d for n, d in bfs_py(0).items()}


@pytest.mark.parametrize("seed,delta", [(1, 0.5), (2, 1.0), (3, 2.5)])
def test_delta_stepping_matches_bellman_ford(spark, seed, delta):
    """Bucketed delta-stepping must produce the identical distance map
    as frontier Bellman-Ford on random weighted graphs, across bucket
    widths (Δ smaller than, equal to, and above the max weight)."""
    import random

    from plwordnet_spark.graph.bfs import delta_stepping_sssp, sssp_distances

    rng = random.Random(seed)
    n = 40
    rows = [
        (rng.randrange(n), rng.randrange(n), round(0.1 + 2.4 * rng.random(), 3))
        for _ in range(160)
    ]
    rows = [(s, d, w) for s, d, w in rows if s != d]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    for directed in (True, False):
        bf = sssp_distances(spark, edges, sources=[0], directed=directed)
        ds = delta_stepping_sssp(
            spark, edges, sources=[0], delta=delta, directed=directed
        )
        want = {r.id: r.dist for r in bf.state.collect()}
        got = {r.id: r.dist for r in ds.state.collect()}
        assert got.keys() == want.keys()
        for k in want:
            if want[k] is None:
                assert got[k] is None, k
            else:
                assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
        assert ds.converged
        # buckets were processed in nondecreasing order
        buckets = [m["bucket"] for m in ds.metrics]
        assert buckets == sorted(buckets)


def test_text_fingerprint_poly_matches_python_replay(spark):
    """The portable polynomial winnowing hash must equal a pure-Python
    replay (same fold, same mod) and behave like a fingerprint: identical
    text → identical fp; near-identical → overlapping fp."""
    from plwordnet_spark.textops.quality import text_fingerprint_poly

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again",  # dup
        "the quick brown fox jumps over the lazy cat again and again",  # near
        "completely different content with no overlap whatsoever here",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: r.fp
        for r in df.select("doc_id", text_fingerprint_poly("text").alias("fp")).collect()
    }

    def py_fp(text, k=8, w=16, mod=2_147_483_647):
        hashes = set()
        for i in range(max(len(text) - w + 1, 1)):
            h = 0
            for ch in text[i : i + w]:
                h = (h * 31 + ord(ch)) % mod
            hashes.add(h)
        return sorted(hashes)[:k]

    for i, t in enumerate(texts):
        assert got[i] == py_fp(t), i
    assert got[0] == got[1]
    assert len(set(got[0]) & set(got[2])) >= 2  # near-dup overlap
    assert not set(got[0]) & set(got[3])


def test_streaming_dedup_equals_batch(spark, sf_dir, tmp_path):
    """At-least-once redelivery: the same events file staged twice into
    the stream must dedup (dropDuplicatesWithinWatermark) to exactly the
    batch dropDuplicates result."""
    import shutil

    from plwordnet_spark.streaming.windows import dedup_events, read_event_stream

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = dedup_events(batch).count()
    assert expected == batch.select("event_id").distinct().count()

    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0000.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0001.parquet")  # redelivery
    stream = read_event_stream(spark, str(src_dir), max_files_per_trigger=1)
    q = (
        dedup_events(stream).writeStream.format("memory")
        .queryName("dedup_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").first()["n"]
    q.stop()
    assert got == expected  # duplicates from the second delivery dropped


# ---------------------------------------------------------------------------
# stdlib XLSX (S7/S8 closed natively — no openpyxl in the container)
# ---------------------------------------------------------------------------

def test_xlsx_lite_roundtrip():
    import tempfile

    from plwordnet_spark.sources.xlsx_lite import read_xlsx, write_xlsx

    header = ["ID", "name", "embedder_weight_coarse", "flag", "note"]
    rows = [
        [1, "hypernym", 0.85, True, "a <b> & 'quote' \"q\""],
        [2, "holonym", 1.0, False, None],
        [30, "mero & nym", -0.25, True, "ünïcödé ≥ ok"],
    ]
    with tempfile.NamedTemporaryFile(suffix=".xlsx", delete=False) as fh:
        path = fh.name
    write_xlsx(path, header, rows)
    got_header, got_rows = read_xlsx(path)
    assert got_header == header
    assert got_rows == rows


def test_xlsx_lite_edge_cases(tmp_path):
    """Non-finite floats write as blank cells (Excel rejects inf/nan
    numerics); formula-error cells read as None instead of crashing."""
    import zipfile

    from plwordnet_spark.sources.xlsx_lite import read_xlsx, write_xlsx

    p = str(tmp_path / "edge.xlsx")
    write_xlsx(p, ["a", "b"], [[float("inf"), 1.5], [float("nan"), 2.0]])
    _, rows = read_xlsx(p)
    assert rows == [[None, 1.5], [None, 2.0]]
    # inject an error cell (t="e") into a workbook and read it back
    with zipfile.ZipFile(p) as zf:
        parts = {n: zf.read(n) for n in zf.namelist()}
    sheet = parts["xl/worksheets/sheet1.xml"].decode()
    sheet = sheet.replace(
        '<c r="B3"><v>2.0</v></c>', '<c r="B3" t="e"><v>#DIV/0!</v></c>'
    )
    with zipfile.ZipFile(p, "w") as zf:
        for n, data in parts.items():
            zf.writestr(n, sheet.encode() if n == "xl/worksheets/sheet1.xml" else data)
    _, rows = read_xlsx(p)
    assert rows[1] == [None, None]


def test_delta_stepping_rejects_nonpositive_delta(spark):
    from plwordnet_spark.graph.bfs import delta_stepping_sssp

    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    for bad in (0.0, -1.0):
        with pytest.raises(ValueError):
            delta_stepping_sssp(spark, edges, sources=[0], delta=bad)


def test_read_relation_weights_xlsx_native(spark, tmp_path, monkeypatch):
    """S7: the reference's weights workbook (ID/name/
    embedder_weight_coarse) reads into the broadcastable dim through the
    stdlib path even when pandas' excel engine is unavailable."""
    import pandas as pd

    from plwordnet_spark.sources.dims import read_relation_weights
    from plwordnet_spark.sources.xlsx_lite import write_xlsx

    path = str(tmp_path / "weights.xlsx")
    write_xlsx(
        path,
        ["ID", "name", "embedder_weight_coarse"],
        [[10, "hypernym", 0.8], [11, "synonym", 1.0]],
    )

    def _no_excel(*a, **k):
        raise ImportError("openpyxl not available (forced by test)")

    monkeypatch.setattr(pd, "read_excel", _no_excel)
    dim = read_relation_weights(spark, path)
    got = {(r.rel_id, r.name, r.weight) for r in dim.collect()}
    assert got == {(10, "hypernym", 0.8), (11, "synonym", 1.0)}


# ---------------------------------------------------------------------------
# approx profiling CLI (VERDICT r2 task 9)
# ---------------------------------------------------------------------------

def test_cli_profile_sketches(spark, sf_dir, capsys, monkeypatch):
    import json

    from plwordnet_spark import cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    assert cli.main([
        "profile", "--documents", f"{sf_dir}/documents.parquet",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] > 0
    # HLL++ at rsd=0.02: estimate within 10% of truth (doc_ids are unique)
    assert abs(out["approx_distinct_ids"] - out["n_docs"]) <= 0.1 * out["n_docs"]
    p50, p90, p99 = out["len_p50_p90_p99"]
    assert p50 <= p90 <= p99
    assert out["top_langs"]
