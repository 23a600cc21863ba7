"""Benchmark harness — one JSON line on stdout.

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]:

* flagship: PageRank-to-convergence on the synthetic link graph
  (corpus → extraction → edge table → power iteration) — the north-rule
  metric, reported as edges·iterations/sec,
* connected components (large-star/small-star) on the same edge table,
* TPC-H-ish scan/agg, multi-join, window top-k on lineitem/orders,
* MinHash-LSH dedup over documents, exact cosine top-k over embeddings,
* streaming ingest (pages stream → incremental EdgeLog) vs batch build,
* PageRank on hub-skewed graphs (one hub dst, one hub src).

Methodology: this host's throughput varies 2-3× run to run (shared VM),
so EVERY iterative row is the MEDIAN of $SPARK_GRAFT_BENCH_REPS
(default 3) INTERLEAVED repetitions — rep r of every row runs before
rep r+1 of any row, so host drift lands across all rows instead of
biasing whichever ran last. Raw reps arrays ship in the detail payload
(`*_reps`). Sub-second relational rows stay single-shot (they are far
inside the noise floor of the rows that matter).

Output: {"metric": ..., "value": seconds_total, "unit": "sec",
"queries": {name: sec}, "sf": ..., "pagerank": {...detail...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from plwordnet_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "50000"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
SEED = 42


def _median(xs: list[float]) -> float:
    # lower-middle for even counts: with 2 reps the upper-middle would
    # report the WORSE rep, letting one cold run masquerade as the row
    s = sorted(xs)
    return s[(len(s) - 1) // 2]


def main() -> None:
    spark = get_spark(app_name="plwordnet-spark-bench", master=f"local[{CPUS}]")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}
    detail: dict = {}

    def timed(name: str, fn):
        start = time.time()
        out = fn()
        timings[name] = round(time.time() - start, 3)
        return out

    def interleaved(tasks: list[tuple[str, object]], reps: int) -> dict[str, object]:
        """Run each (name, thunk) ``reps`` times, rep-major (all rows'
        rep r before any row's rep r+1). Row timing = median; raw reps
        land in detail['<name>_reps']. Returns first-rep outputs."""
        rep_times: dict[str, list[float]] = {name: [] for name, _ in tasks}
        first: dict[str, object] = {}
        for rep in range(reps):
            for name, fn in tasks:
                t0 = time.time()
                out = fn()
                rep_times[name].append(round(time.time() - t0, 3))
                if rep == 0:
                    first[name] = out
        for name, xs in rep_times.items():
            timings[name] = _median(xs)
            detail[f"{name}_reps"] = xs
        return first

    # --- flagship: corpus → graph → PageRank to convergence ---
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph
    from plwordnet_spark.graph.components import connected_components
    from plwordnet_spark.graph.pagerank import pagerank

    pages = generate_pages(spark, N_PAGES, SEED).cache()
    pages.count()  # corpus generation excluded from graph timings

    def _build():
        tables = build_graph(pages)
        tables.edges.cache()
        n_edges = tables.edges.count()
        return tables, n_edges

    tables, n_edges = timed("graph_build", _build)

    from plwordnet_spark.graph.bfs import bfs_distances
    from plwordnet_spark.graph.hits import hits
    from plwordnet_spark.graph.kcore import k_core
    from plwordnet_spark.graph.louvain import louvain_move_phase
    from plwordnet_spark.graph.triangles import triangle_count
    from plwordnet_spark.textops.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    seed_ids = tables.nodes.orderBy("id").limit(1).select("id")

    def _dedup():
        kept, pairs = minhash_lsh_dedup(spark, docs, threshold=0.8)
        return kept.count(), pairs.count()

    first = interleaved(
        [
            (
                "pagerank_convergence",
                lambda: pagerank(
                    spark, tables.edges, nodes=tables.nodes, tol=1e-6,
                    max_iterations=60,
                ),
            ),
            (
                "connected_components",
                lambda: connected_components(
                    spark, tables.edges, nodes=tables.nodes
                ).state.count(),
            ),
            (
                "bfs",
                lambda: bfs_distances(
                    spark, tables.edges, sources=seed_ids, nodes=tables.nodes
                ).state.filter("dist IS NOT NULL").count(),
            ),
            (
                "hits",
                lambda: hits(
                    spark, tables.edges, nodes=tables.nodes, max_iterations=10,
                    tol=0.0,
                ).state.count(),
            ),
            ("kcore", lambda: k_core(spark, tables.edges, k=3).state.count()),
            ("triangles", lambda: triangle_count(tables.edges)),
            ("minhash_dedup", _dedup),
            (
                "louvain",
                lambda: louvain_move_phase(
                    spark, tables.edges, rounds=5
                ).count(),
            ),
        ],
        REPS,
    )
    detail["triangles"] = first["triangles"]
    pr = first["pagerank_convergence"]
    detail["pagerank"] = {
        "n_pages": N_PAGES,
        "n_edges": n_edges,
        "iterations": pr.iterations,
        "converged": pr.converged,
        "edges_per_sec": round(
            n_edges * pr.iterations / timings["pagerank_convergence"], 1
        ),
        "cpus": CPUS,
    }
    detail["minhash"] = dict(zip(("kept", "dup_pairs"), first["minhash_dedup"]))

    # --- relational headliners on the driver tables ---
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")

    timed(
        "scan_agg_q1",
        lambda: lineitem.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect(),
    )
    timed(
        "multi_join_revenue",
        lambda: orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("revenue"))
        .collect(),
    )
    from pyspark.sql import Window as W

    timed(
        "window_topk",
        lambda: orders.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
            ),
        )
        .filter(F.col("rk") <= 3)
        .count(),
    )

    # --- training-data ops ---
    from plwordnet_spark.vectors.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    interleaved(
        [("cosine_topk", lambda: cosine_topk(emb, queries_df, k=10).count())], REPS
    )

    # reference comparison: the reference's only published throughput is
    # 370.45 per-id vector point-lookups/sec (single-threaded Milvus loop,
    # /root/reference/INSTALL.md:243-244). Two honest measurements:
    # (a) the same sequential loop shape — N independent per-id filter
    #     queries, one Spark job each (apples-to-apples with the loop),
    # (b) the batch formulation a Spark user would actually write —
    #     every id fetched via one key semi-join (labeled as batch
    #     key-join throughput, NOT a per-query rate).
    emb_cached = emb.cache()
    n_emb = emb_cached.count()

    def _point_lookup_loop(n_queries: int = 40):
        for qid in range(n_queries):
            emb_cached.filter(F.col("vec_id") == qid % n_emb).collect()
        return n_queries

    n_loop = timed("point_lookup_loop", _point_lookup_loop)

    def _key_join_batch():
        ids = emb_cached.select("vec_id")
        return emb_cached.join(ids, "vec_id", "left_semi").count()

    n_batch = timed("point_lookup_batch", _key_join_batch)

    # (c) the architecture-matching path: the reference's 370.45/s is a
    #     loop of gets against a PRE-BUILT in-memory Milvus index. Build
    #     the engine's serving index once (one Spark projection job,
    #     cost reported separately) and serve the same loop from RAM.
    from plwordnet_spark.storage.serving import PointIndex

    index = PointIndex.build(emb_cached, "vec_id")

    def _point_lookup_loop_indexed(n_queries: int = 20000):
        for qid in range(n_queries):
            index.lookup(qid % n_emb)
        return n_queries

    n_loopi = timed("point_lookup_loop_indexed", _point_lookup_loop_indexed)
    detail["point_lookups"] = {
        "sequential_loop_n": n_loop,
        "sequential_lookups_per_sec": round(n_loop / timings["point_lookup_loop"], 1),
        "batch_key_join_n": n_batch,
        "batch_key_join_rows_per_sec": round(n_batch / timings["point_lookup_batch"], 1),
        "indexed_loop_n": n_loopi,
        "indexed_lookups_per_sec": round(
            n_loopi / timings["point_lookup_loop_indexed"], 1
        ),
        "index_build_seconds": round(index.build_seconds, 3),
        "index_rows": index.n_rows,
        "reference_lookups_per_sec": 370.45,
    }
    emb_cached.unpersist()

    # --- streaming ingest vs batch build -----------------------------
    # the production ingest topology end-to-end: pages land as files, the
    # availableNow stream folds each micro-batch's links into the EdgeLog
    # (O(batch) delta writes + compaction). Reported as pages/sec against
    # the batch build_graph rate on the same pages. Single-shot: the row
    # is dominated by per-micro-batch fixed costs, not host drift.
    ingest_pages = int(os.environ.get("SPARK_GRAFT_BENCH_INGEST_PAGES", "50000"))
    if ingest_pages > 0:
        from plwordnet_spark.streaming.ingest import (
            EdgeLog,
            read_page_stream,
            stream_pages_to_edges,
        )

        ingest_root = tempfile.mkdtemp(prefix="plwn_bench_ingest_")
        pages_dir = os.path.join(ingest_root, "pages")
        (
            generate_pages(spark, ingest_pages, SEED + 1)
            .repartition(8)
            .write.parquet(pages_dir)
        )

        # the structural floor: the SAME stream topology (same source,
        # same trigger, same 4 micro-batches) with a no-op foreachBatch.
        # This is pure Structured-Streaming machinery — file listing,
        # offset WAL, per-batch planning — none of it attributable to
        # the commit path; BENCH/INGEST.md reads stream_over_batch
        # against it. Run first: it warms the streaming machinery but
        # executes no extraction, so the real rows stay comparable.
        def _noop_floor():
            q = (
                read_page_stream(spark, pages_dir, max_files_per_trigger=2)
                .writeStream.foreachBatch(lambda df, bid: None)
                .option(
                    "checkpointLocation", os.path.join(ingest_root, "ck_noop")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        timed("ingest_noop_floor", _noop_floor)

        def _ingest():
            q = stream_pages_to_edges(
                spark,
                read_page_stream(spark, pages_dir, max_files_per_trigger=2),
                edges_dir=os.path.join(ingest_root, "edges"),
                checkpoint_dir=os.path.join(ingest_root, "ckpt"),
                compact_every=3,
            )
            q.awaitTermination()
            # measured, not assumed: count the micro-batches that actually
            # carried rows (ADVICE r4 — the old hard-coded 4 silently went
            # wrong if file count or max_files_per_trigger changed)
            n_batches = sum(
                1 for p in q.recentProgress if p.get("numInputRows", 0) > 0
            )
            merged, newest = EdgeLog(spark, os.path.join(ingest_root, "edges")).latest()
            return merged.count(), newest, n_batches

        n_stream_edges, newest, n_micro_batches = timed("ingest_stream", _ingest)

        # same stream folded as ONE micro-batch: isolates the per-batch
        # fixed tax (fingerprint pass + HLL sketch + snapshot commit per
        # batch) from the streaming topology itself — at production batch
        # sizes the fixed cost amortizes toward this number
        def _ingest_one_batch():
            q = stream_pages_to_edges(
                spark,
                read_page_stream(spark, pages_dir, max_files_per_trigger=8),
                edges_dir=os.path.join(ingest_root, "edges1"),
                checkpoint_dir=os.path.join(ingest_root, "ckpt1"),
                compact_every=8,
            )
            q.awaitTermination()
            merged, _ = EdgeLog(spark, os.path.join(ingest_root, "edges1")).latest()
            return merged.count()

        n_stream1_edges = timed("ingest_stream_1batch", _ingest_one_batch)

        def _ingest_batch():
            t = build_graph(spark.read.parquet(pages_dir))
            return t.edges.count()

        n_batch_edges = timed("ingest_batch_equiv", _ingest_batch)
        detail["ingest_stream"] = {
            "pages": ingest_pages,
            "micro_batches": n_micro_batches,
            "edges": n_stream_edges,
            "edges_1batch": n_stream1_edges,
            "batch_edges": n_batch_edges,
            "pages_per_sec": round(ingest_pages / timings["ingest_stream"], 1),
            "pages_per_sec_1batch": round(
                ingest_pages / timings["ingest_stream_1batch"], 1
            ),
            "batch_pages_per_sec": round(ingest_pages / timings["ingest_batch_equiv"], 1),
            "stream_over_batch": round(
                timings["ingest_stream"] / timings["ingest_batch_equiv"], 2
            ),
            "stream_1batch_over_batch": round(
                timings["ingest_stream_1batch"] / timings["ingest_batch_equiv"], 2
            ),
            # per-batch fixed machinery, none of it the commit path
            "noop_floor_sec": round(timings["ingest_noop_floor"], 2),
            "stream_minus_floor_over_batch": round(
                (timings["ingest_stream"] - timings["ingest_noop_floor"])
                / timings["ingest_batch_equiv"],
                2,
            ),
        }
        shutil.rmtree(ingest_root, ignore_errors=True)

    # --- skew: the gather on a hub-heavy graph ------------------------
    # map-side partial aggregation absorbs the hub dst (BENCH/SKEW.md).
    # Graph: power-law dst + ~10% of ALL edges pointing at one
    # hub id (a Common-Crawl-style "facebook.com problem"). Interleaved
    # reps like every other iterative row.
    skew_edges_target = int(os.environ.get("SPARK_GRAFT_BENCH_SKEW_EDGES", "8000000"))
    if skew_edges_target > 0:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from run_scaling import _make_edges

        n_skew_nodes = max(skew_edges_target // 10, 1)
        hub = F.pmod(F.xxhash64("src", F.lit(7)), F.lit(100)) < F.lit(10)
        skewed = (
            _make_edges(spark, skew_edges_target, n_skew_nodes)
            .withColumn("dst", F.when(hub, F.lit(0)).otherwise(F.col("dst")))
            .filter("src != dst")
            .repartition(CPUS, "src")
            .cache()
        )
        n_skewed = skewed.count()
        skew_iters = 5
        interleaved(
            [
                (
                    "pagerank_skew_unsalted",
                    lambda: pagerank(
                        spark, skewed, tol=0.0, max_iterations=skew_iters,
                    ),
                ),
            ],
            REPS,
        )
        hub_rows = (
            skewed.groupBy("dst").count().orderBy(F.desc("count")).limit(1).first()
        )
        detail["pagerank_skew"] = {
            "n_edges": n_skewed,
            "iterations": skew_iters,
            "top_dst_edges": int(hub_rows["count"]),
            "top_dst_share": round(hub_rows["count"] / n_skewed, 4),
            "unsalted_edge_iters_per_sec": round(
                n_skewed * skew_iters / timings["pagerank_skew_unsalted"], 1
            ),
        }
        skewed.unpersist()

    # --- skew, src side -----------------------------------------------
    # the OTHER hub problem: one src owning ~10% of all edges puts all
    # hub out-edges in one hash partition of the co-partitioned rank
    # join (BENCH/SKEW.md).
    srcskew_target = int(os.environ.get("SPARK_GRAFT_BENCH_SRCSKEW_EDGES", "8000000"))
    if srcskew_target > 0:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from run_scaling import _make_edges

        n_ss_nodes = max(srcskew_target // 10, 1)
        # _make_edges with ~10% of the RANDOM edges re-sourced to hub
        # src 0; the ring stays intact so every node keeps out-degree
        # >= 1 (dangling-free)
        srcskew = (
            _make_edges(spark, srcskew_target, n_ss_nodes, hub_src_pct=10)
            .repartition(CPUS, "src")
            .cache()
        )
        n_ss = srcskew.count()
        ss_iters = 5
        interleaved(
            [
                (
                    "pagerank_srcskew_plain",
                    lambda: pagerank(
                        spark, srcskew, tol=0.0, max_iterations=ss_iters,
                    ),
                ),
            ],
            REPS,
        )
        top_src = (
            srcskew.groupBy("src").count().orderBy(F.desc("count")).limit(1).first()
        )
        detail["pagerank_srcskew"] = {
            "n_edges": n_ss,
            "iterations": ss_iters,
            "top_src_edges": int(top_src["count"]),
            "top_src_share": round(top_src["count"] / n_ss, 4),
            "plain_edge_iters_per_sec": round(
                n_ss * ss_iters / timings["pagerank_srcskew_plain"], 1
            ),
        }
        srcskew.unpersist()

    # large synthetic PageRank: fixed-size power-law graph where per-
    # iteration work dominates fixed costs — the scale row the corpus
    # graph (142k edges) can't provide. SPARK_GRAFT_BENCH_BIG_EDGES=0
    # disables; graph generation is excluded from the timing. The
    # headline join-path and BFS rows get SPARK_GRAFT_BENCH_BIG_REPS
    # (default 2) INTERLEAVED reps — r4's single shots swung 2.2×
    # between same-day runs, and these are the north-rule throughput
    # numbers; the lower-middle median convention bounds a 2-rep pair by
    # its better half.
    big_edges_target = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_EDGES", "22000000"))
    big_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_BIG_REPS", "2")))
    if big_edges_target > 0:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from run_scaling import _make_edges

        big_nodes = max(big_edges_target // 10, 1)
        big = _make_edges(spark, big_edges_target, big_nodes).repartition(CPUS, "src").cache()
        n_big = big.count()
        big_iters = 10

        def _pr_big():
            return pagerank(
                spark, big, tol=0.0, max_iterations=big_iters,
            )

        # frontier-based BFS on the same graph: per-round cost must track
        # the frontier wave, not the reached set (round_seconds should
        # decay with frontier_rows in the tail)
        def _bfs_big():
            return bfs_distances(
                spark, big, sources=[0], directed=True, max_iterations=30,
            )

        first_big = interleaved(
            [("pagerank_big", _pr_big), ("bfs_big", _bfs_big)], big_reps
        )
        res_bfs = first_big["bfs_big"]
        detail["pagerank_big"] = {
            "n_edges": n_big,
            "iterations": big_iters,
            "edge_iters_per_sec": round(n_big * big_iters / timings["pagerank_big"], 1),
            "cpus": CPUS,
        }

        detail["bfs_big"] = {
            "n_edges": n_big,
            "iterations": res_bfs.iterations,
            "reached": res_bfs.state.filter("dist IS NOT NULL").count(),
            "frontier_rows": [m.get("frontier_rows") for m in res_bfs.metrics],
            "round_seconds": [round(m["seconds"], 2) for m in res_bfs.metrics],
        }
        big.unpersist()

    pages.unpersist()
    tables.edges.unpersist()
    total = round(sum(timings.values()), 3)

    # Full per-row detail (rep arrays, skew decompositions, ingest
    # breakdown, ...) goes to a file; stdout carries ONE compact JSON
    # line. The driver records only the tail of stdout (observed
    # 2000-char window — the r4 line outgrew it and BENCH_r04.json
    # came back "parsed": null), so the printed line is hard-capped.
    full = {
        "metric": "bench_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": REPS,
        **detail,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "detail_last.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        detail_path = None  # read-only checkout: compact line still prints

    pl = detail.get("point_lookups", {})
    ing = detail.get("ingest_stream", {})
    headline = {
        "edges": n_edges,
        "pr_eps": detail.get("pagerank", {}).get("edges_per_sec"),
        "pr_big_eips": detail.get("pagerank_big", {}).get("edge_iters_per_sec"),
        "bfs_big_reached": detail.get("bfs_big", {}).get("reached"),
        "skew_unsalted_eips": detail.get("pagerank_skew", {}).get(
            "unsalted_edge_iters_per_sec"
        ),
        "srcskew_plain_eips": detail.get("pagerank_srcskew", {}).get(
            "plain_edge_iters_per_sec"
        ),
        "lookup_loop_ps": pl.get("sequential_lookups_per_sec"),
        "lookup_batch_rps": pl.get("batch_key_join_rows_per_sec"),
        "lookup_indexed_ps": pl.get("indexed_lookups_per_sec"),
        "ref_lookup_ps": pl.get("reference_lookups_per_sec"),
        "stream_over_batch": ing.get("stream_over_batch"),
        "stream_minus_floor_over_batch": ing.get("stream_minus_floor_over_batch"),
        "triangles": detail.get("triangles"),
        "minhash_dup_pairs": detail.get("minhash", {}).get("dup_pairs"),
    }
    headline = {k: v for k, v in headline.items() if v is not None}
    compact = {
        "metric": "bench_total_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": REPS,
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "headline": headline,
        "detail_file": "BENCH/detail_last.json" if detail_path else None,
    }
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900 and headline:  # belt-and-braces size guard
        headline.popitem()
        compact["headline"] = headline
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
