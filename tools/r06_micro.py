"""Round-6 optimization micro-harness: isolate one bench operator per
process, time it over interleaved reps, and optionally dump
``explain("formatted")`` plans to plans/r06/.

Never used by the driver's measurement (bench.py is frozen); numbers
from here are cited in OPTIMIZATION_r06.md as isolation evidence.

Usage:
    python tools/r06_micro.py <op>[,<op>...] [--reps N] [--plans]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import functions as F  # noqa: E402

from plwordnet_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "50000"))
BIG_EDGES = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_EDGES", "22000000"))
SEED = 42
PLANS_DIR = os.path.join(REPO, "plans", "r06")


def _corpus_tables(spark):
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph

    pages = generate_pages(spark, N_PAGES, SEED).cache()
    pages.count()
    tables = build_graph(pages)
    tables.edges.cache()
    tables.edges.count()
    return pages, tables


def _big_edges(spark):
    from run_scaling import _make_edges

    big = _make_edges(spark, BIG_EDGES, BIG_EDGES // 10).repartition(CPUS, "src").cache()
    big.count()
    return big


def main() -> None:
    ops = sys.argv[1].split(",")
    reps = 2
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    spark = get_spark(app_name="r06-micro", master=f"local[{CPUS}]")

    ctx: dict = {}

    def need_corpus():
        if "tables" not in ctx:
            ctx["pages"], ctx["tables"] = _corpus_tables(spark)
        return ctx["tables"]

    def need_big():
        if "big" not in ctx:
            ctx["big"] = _big_edges(spark)
        return ctx["big"]

    def op_pr_big():
        from plwordnet_spark.graph.pagerank import pagerank

        big = need_big()
        return pagerank(spark, big, tol=0.0, max_iterations=10)

    def op_bfs_big():
        from plwordnet_spark.graph.bfs import bfs_distances

        big = need_big()
        return bfs_distances(spark, big, sources=[0], directed=True,
                             max_iterations=30)

    def op_pr_conv():
        from plwordnet_spark.graph.pagerank import pagerank

        t = need_corpus()
        return pagerank(spark, t.edges, nodes=t.nodes, tol=1e-6,
                        max_iterations=60)

    def op_cc():
        from plwordnet_spark.graph.components import connected_components

        t = need_corpus()
        return connected_components(spark, t.edges, nodes=t.nodes).state.count()

    def op_bfs():
        from plwordnet_spark.graph.bfs import bfs_distances

        t = need_corpus()
        seed_ids = t.nodes.orderBy("id").limit(1).select("id")
        return bfs_distances(spark, t.edges, sources=seed_ids, nodes=t.nodes
                             ).state.filter("dist IS NOT NULL").count()

    def op_hits():
        from plwordnet_spark.graph.hits import hits

        t = need_corpus()
        return hits(spark, t.edges, nodes=t.nodes, max_iterations=10,
                    tol=0.0).state.count()

    def op_kcore():
        from plwordnet_spark.graph.kcore import k_core

        t = need_corpus()
        return k_core(spark, t.edges, k=3).state.count()

    def op_triangles():
        from plwordnet_spark.graph.triangles import triangle_count

        t = need_corpus()
        return triangle_count(t.edges)

    def op_louvain():
        from plwordnet_spark.graph.louvain import louvain_move_phase

        t = need_corpus()
        return louvain_move_phase(spark, t.edges, rounds=5).count()

    def op_minhash():
        from plwordnet_spark.textops.dedup import minhash_lsh_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text")
        kept, pairs = minhash_lsh_dedup(spark, docs, threshold=0.8)
        return kept.count(), pairs.count()

    def op_graph_build():
        from plwordnet_spark.corpus import generate_pages
        from plwordnet_spark.graph.build import build_graph

        if "pages" not in ctx:
            ctx["pages"] = generate_pages(spark, N_PAGES, SEED).cache()
            ctx["pages"].count()
        tables = build_graph(ctx["pages"])
        n = tables.edges.count()
        return n

    def op_cosine():
        from plwordnet_spark.vectors.similarity import cosine_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
            "embedding", F.col("embedding").cast("array<double>"))
        qs = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return cosine_topk(emb, qs, k=10).count()

    table = {
        "pr_big": op_pr_big,
        "bfs_big": op_bfs_big,
        "pr_conv": op_pr_conv,
        "cc": op_cc,
        "bfs": op_bfs,
        "hits": op_hits,
        "kcore": op_kcore,
        "triangles": op_triangles,
        "louvain": op_louvain,
        "minhash": op_minhash,
        "graph_build": op_graph_build,
        "cosine": op_cosine,
    }

    out: dict = {"ops": ops, "reps": reps, "times": {}}
    for op in ops:
        out["times"][op] = []
    for r in range(reps):
        for op in ops:
            spark.sparkContext.setJobDescription(f"r06micro:{op}:rep{r}")
            t0 = time.time()
            table[op]()
            out["times"][op].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
