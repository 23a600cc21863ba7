"""Round-2 regression tests: scale fixes and new seams from VERDICT/ADVICE.

Covers: LSH plan size at production dims, MinHash CC node restriction,
deterministic negative cap, reference-exact balance arithmetic, the
model-encoder UDF seam (per-process single load), pluggable sentence
splitter, snapshot retention + resume,
SimHash max_hamming recall guarantee, and idempotent streaming replay.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# LSH plan size at production dims (VERDICT wrong #1)
# ---------------------------------------------------------------------------

def test_lsh_plan_builds_fast_at_production_dim(spark):
    """dim=1152 × 64 bits used to inline ~74k plan literals; the pandas-UDF
    signature path must analyze in well under a second and execute."""
    from plwordnet_spark.vectors.similarity import lsh_bucketed_topk

    dim = 1152
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    start = time.time()
    out = lsh_bucketed_topk(df, qs, dim=dim, k=3, n_bands=8, band_bits=8)
    out.schema  # forces analysis — the phase that used to explode
    analysis_sec = time.time() - start
    assert analysis_sec < 5.0, f"plan analysis took {analysis_sec:.1f}s"
    got = out.collect()
    assert len(got) > 0
    # rank 1 self-hit: identical vectors share every band bucket
    self_hits = {r.query_id for r in got if r.rank == 1 and r.vec_id == r.query_id}
    assert self_hits == {0, 1}


def test_lsh_index_staged_equals_direct(spark, tmp_path):
    """The persisted index must return exactly what the one-shot path
    returns, and its topk plan must compute query-side signatures only
    (one Arrow UDF node — the corpus side is a plain parquet scan)."""
    from plwordnet_spark.vectors.similarity import LshIndex, lsh_bucketed_topk

    dim = 32
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = LshIndex(spark, str(tmp_path / "idx"), dim=dim, n_bands=8, band_bits=4)
    idx.build(emb)
    staged = idx.topk(qs, k=5).orderBy("query_id", "rank").collect()
    direct = (
        lsh_bucketed_topk(emb, qs, dim=dim, k=5, n_bands=8, band_bits=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert staged == direct
    plan = idx.topk(qs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1  # query side only


# ---------------------------------------------------------------------------
# MinHash CC restricted to dup-pair ids (VERDICT wrong #2)
# ---------------------------------------------------------------------------

def test_minhash_cc_over_pair_ids_only(spark):
    from plwordnet_spark.graph.components import connected_components
    from plwordnet_spark.textops.dedup import minhash_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(0, base), (1, base + " extra"), (2, base), (10, "a completely different text "
          "about spark engines running large shuffles in production clusters daily")],
        "doc_id long, text string",
    )
    kept, pairs = minhash_lsh_dedup(spark, docs, threshold=0.5)
    pair_rows = pairs.collect()
    pair_ids = {r.id_a for r in pair_rows} | {r.id_b for r in pair_rows}
    # the CC the dedup runs internally covers exactly the pair ids
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc_state = connected_components(spark, edges).state
    assert cc_state.count() == len(pair_ids)
    # non-participating docs are singletons and always kept
    kept_ids = {r.doc_id for r in kept.collect()}
    assert 10 in kept_ids
    assert 0 in kept_ids  # min-id canonical representative
    assert kept_ids.issubset({0, 1, 2, 10})
    assert 2 not in kept_ids  # exact dup of 0, higher id


# ---------------------------------------------------------------------------
# deterministic negative cap + reference-exact balance arithmetic
# ---------------------------------------------------------------------------

def test_negative_synthesis_cap_partition_invariant(spark):
    from plwordnet_spark.datasets.balanced import negative_synthesis

    pool_rows = [(f"text number {i} with content",) for i in range(200)]
    positives = spark.createDataFrame(
        [("text number 3 with content", "text number 7 with content")],
        "text_parent string, text_child string",
    )
    outs = []
    for parts in (1, 7):
        pool = spark.createDataFrame(pool_rows, "text_parent string").repartition(parts)
        out = negative_synthesis(pool, positives, seed=42, max_count=20)
        outs.append(sorted((r.text_parent, r.text_child) for r in out.collect()))
    assert outs[0] == outs[1]
    assert len(outs[0]) == 20
    assert "h" not in out.columns


def test_balance_arithmetic_reference_truncation():
    from plwordnet_spark.datasets.balanced import balance_arithmetic

    # reference embedder.py:911-913 VERBATIM, float detour included:
    # int(ratio * (low * (high / low)) + 1) - low. For (7, 61, 2.0) the
    # detour truncates to 115 where int(ratio*high + 1) - low gives 116.
    for low, high, ratio in [
        (10, 33, 2.0), (7, 13, 1.5), (3, 10, 2.0), (10, 10, 1.0), (7, 61, 2.0)
    ]:
        got = balance_arithmetic(low, high, ratio)
        expected = int(ratio * (low * (high / low)) + 1) - low
        assert got["add_examples"] == expected, (low, high, ratio)
        assert got["l_h_ratio"] == round(0.5 + expected / low)
    assert balance_arithmetic(7, 61, 2.0)["add_examples"] == 115  # not 116
    # low == 0: the reference substitutes low = 1 (embedder.py:908-909)
    assert balance_arithmetic(0, 61, 2.0) == {
        "add_examples": int(2.0 * (1 * (61 / 1)) + 1) - 1,
        "l_h_ratio": round(0.5 + (int(2.0 * (1 * (61 / 1)) + 1) - 1) / 1),
    }


# ---------------------------------------------------------------------------
# model-encoder UDF seam (VERDICT missing #2)
# ---------------------------------------------------------------------------

def test_encoder_udf_parity_and_single_load(spark, tmp_path):
    from plwordnet_spark.vectors.hash_embed import make_encoder_udf

    marker_dir = str(tmp_path / "loads")
    os.makedirs(marker_dir, exist_ok=True)
    dim = 8

    def fake_factory():
        # one marker line per factory invocation, keyed by worker pid:
        # per-process single load ⇒ every pid file has exactly one line
        with open(os.path.join(marker_dir, f"load_{os.getpid()}"), "a") as fh:
            fh.write("loaded\n")

        def encode(texts):
            return [
                [float((len(t) + d) % 17) for d in range(dim)] for t in texts
            ]

        return encode

    udf = make_encoder_udf(fake_factory, cache_key=f"fake-{tmp_path.name}", truncate_chars=10)
    texts = [(i, "x" * (i % 25)) for i in range(200)]
    df = spark.createDataFrame(texts, "id long, text string").repartition(8)
    out = df.select("id", udf("text").alias("emb"))
    got = {r.id: list(r.emb) for r in out.collect()}
    # run a second action: cached encoders must not reload
    assert out.count() == 200
    enc = fake_factory()  # driver-side oracle (adds one driver marker)
    for i, t in texts:
        expected = enc([t[:10]])[0]  # truncation applied before encoding
        assert got[i] == pytest.approx(expected)
    for name in os.listdir(marker_dir):
        with open(os.path.join(marker_dir, name)) as fh:
            lines = fh.readlines()
        # driver pid file has the oracle load too
        bound = 2 if name == f"load_{os.getpid()}" else 1
        assert len(lines) <= bound, f"{name} loaded {len(lines)} times"


# ---------------------------------------------------------------------------
# pluggable sentence splitter (VERDICT missing #3)
# ---------------------------------------------------------------------------

def test_sentence_pair_explode_custom_splitter(spark):
    from plwordnet_spark.datasets.split import sentence_pair_explode

    df = spark.createDataFrame(
        [("alpha;beta", "gamma;delta;epsilon")],
        "text_parent string, text_child string",
    )
    out = sentence_pair_explode(df, splitter=lambda t: t.split(";"))
    pairs = sorted((r.sentence1, r.sentence2) for r in out.collect())
    assert pairs == sorted(
        (a, b) for a in ["alpha", "beta"] for b in ["gamma", "delta", "epsilon"]
    )
    # default regex path unchanged
    df2 = spark.createDataFrame(
        [("One. Two.", "Three!")], "text_parent string, text_child string"
    )
    got = sorted(
        (r.sentence1, r.sentence2) for r in sentence_pair_explode(df2).collect()
    )
    assert got == [("One.", "Three!"), ("Two.", "Three!")]


# ---------------------------------------------------------------------------
# snapshot retention (VERDICT missing #4)
# ---------------------------------------------------------------------------

def _snap_dirs(root: str) -> list[str]:
    return sorted(d for d in os.listdir(root) if d.startswith("snap_"))


def test_snapshot_prune_bounds_disk_and_resume(spark, tmp_path):
    from plwordnet_spark.graph.pregel import PregelRunner
    from plwordnet_spark.storage.snapshots import SnapshotStore

    ckpt = str(tmp_path / "ckpt")
    runner = PregelRunner(
        spark, max_iterations=6, tol=None, checkpoint_dir=ckpt,
        checkpoint_interval=1, retain_snapshots=2,
    )
    init = spark.range(10).select(F.col("id"), F.lit(0).alias("step"))

    def step(df):
        return df.select("id", (F.col("step") + 1).alias("step"))

    res = runner.run(init, step)
    assert res.iterations == 6
    assert [r.step for r in res.state.collect()] == [6] * 10
    # disk bounded: at most 2 live snapshot dirs survive 6 checkpoints
    assert len(_snap_dirs(ckpt)) <= 2
    store = SnapshotStore(spark, ckpt)
    # metrics history survives retention (expired entries keep metrics)
    assert len(store.manifest()) >= 6
    # resume continues from the latest live snapshot
    runner2 = PregelRunner(
        spark, max_iterations=8, tol=None, checkpoint_dir=ckpt,
        checkpoint_interval=1, retain_snapshots=2,
    )
    res2 = runner2.resume(step)
    assert res2.iterations == 8
    assert [r.step for r in res2.state.collect()] == [8] * 10


def test_snapshot_prune_keeps_newest(spark, tmp_path):
    from plwordnet_spark.storage.snapshots import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "s"))
    for i in range(4):
        store.write(spark.range(5).withColumn("iter", F.lit(i)), iteration=i)
    expired = store.prune(keep_last=2)
    assert expired == [0, 1]
    state, entry = store.latest()
    assert entry["iteration"] == 3
    assert state.agg(F.max("iter")).first()[0] == 3
    with pytest.raises(ValueError):
        store.prune(keep_last=0)


# ---------------------------------------------------------------------------
# SimHash max_hamming guard (ADVICE low #5)
# ---------------------------------------------------------------------------

def test_simhash_high_hamming_recall(spark):
    from plwordnet_spark.textops.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    words = [f"tok{i}" for i in range(60)]
    d0 = " ".join(words)
    d1 = " ".join(words[:58] + ["alt0", "alt1"])  # light perturbation
    docs = spark.createDataFrame([(0, d0), (1, d1)], "doc_id long, text string")
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    dist = bin(fp[0] ^ fp[1]).count("1")
    assert 0 < dist <= 15, f"test fixture drifted: d={dist}"
    pairs = simhash_near_dup_pairs(docs, max_hamming=dist).collect()
    # pigeonhole banding guarantees recall at the requested bound
    assert any(r.id_a == 0 and r.id_b == 1 for r in pairs), f"missed pair at d={dist}"
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, max_hamming=16)


# ---------------------------------------------------------------------------
# idempotent streaming replay (ADVICE medium)
# ---------------------------------------------------------------------------

def test_streaming_ingest_replay_is_idempotent(spark, tmp_path):
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.streaming.ingest import (
        EdgeLog,
        read_page_stream,
        stream_pages_to_edges,
    )

    pages_dir = str(tmp_path / "pages")
    edges_dir = str(tmp_path / "edges")
    generate_pages(spark, 60, seed=42).write.parquet(pages_dir)

    # compact_every=2 so compaction (which EXPIRES delta snapshots) runs
    # mid-stream — replay fingerprints must survive retention
    def run_once(ckpt: str):
        q = stream_pages_to_edges(
            spark, read_page_stream(spark, pages_dir, max_files_per_trigger=1),
            edges_dir, ckpt, compact_every=2,
        )
        q.awaitTermination(120)

    run_once(str(tmp_path / "ckpt1"))
    log = EdgeLog(spark, edges_dir, compact_every=2)
    first = sorted(
        (r.src, r.dst, r.rel_id, r.weight) for r in log.latest()[0].collect()
    )
    n_snaps_first = len(log.store.manifest())
    # at-least-once replay: a fresh checkpoint re-delivers every batch
    # with the same batch_ids — the guard must skip all of them
    run_once(str(tmp_path / "ckpt2"))
    replayed = sorted(
        (r.src, r.dst, r.rel_id, r.weight) for r in log.latest()[0].collect()
    )
    assert replayed == first  # weights NOT double-counted
    assert len(log.store.manifest()) == n_snaps_first  # no new snapshots


def test_xlsx_report_sink_stdlib_fallback(spark, tmp_path, monkeypatch):
    """S8: with openpyxl absent (forced by making to_excel raise), the
    sink must still write REAL XLSX via the stdlib xlsx_lite writer."""
    import pandas as pd

    from plwordnet_spark.sources.dims import write_xlsx_report
    from plwordnet_spark.sources.xlsx_lite import read_xlsx

    def _no_excel(self, *a, **k):
        raise ImportError("openpyxl not available (forced by test)")

    monkeypatch.setattr(pd.DataFrame, "to_excel", _no_excel)
    df = spark.createDataFrame(
        [(1, "hypernym", 0.8), (2, "synonym", 1.0)], "rel_id int, name string, weight double"
    )
    write_xlsx_report(df, str(tmp_path / "report.xlsx"))
    header, rows = read_xlsx(str(tmp_path / "report.xlsx"))
    assert header == ["rel_id", "name", "weight"]
    assert sorted(rows) == [[1, "hypernym", 0.8], [2, "synonym", 1.0]]


def test_pagerank_warm_start_after_edge_merge(spark):
    """North-rule resumability narrative: after an incremental crawl
    merge grows the edge table, PageRank seeded with the previous ranks
    (initial_ranks) reaches the same fixpoint as a cold start — in no
    more iterations."""
    from plwordnet_spark.graph.build import merge_edge_tables
    from plwordnet_spark.graph.pagerank import pagerank

    def ring(n, skip, w=1.0):
        return spark.createDataFrame(
            [(i, (i + skip) % n, 1, w) for i in range(n)],
            "src long, dst long, rel_id int, weight double",
        ).filter("src != dst")

    base = ring(60, 1)
    r1 = pagerank(spark, base, tol=1e-10, max_iterations=100, weighted=True)
    grown = merge_edge_tables(base, ring(60, 7))  # crawl found new links
    cold = pagerank(spark, grown, tol=1e-10, max_iterations=100, weighted=True)
    warm = pagerank(
        spark, grown, tol=1e-10, max_iterations=100, weighted=True,
        initial_ranks=r1.state,
    )
    assert warm.converged and cold.converged
    assert warm.iterations <= cold.iterations
    got = {r.id: r.rank for r in warm.state.collect()}
    want = {r.id: r.rank for r in cold.state.collect()}
    for n, v in want.items():
        assert got[n] == pytest.approx(v, abs=1e-8)
