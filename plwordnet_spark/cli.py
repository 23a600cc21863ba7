"""Command-line surface — the reference CLI re-expressed for Spark.

Reference: ``plwordnet-cli`` / ``plwordnet-milvus`` subcommands
(apps/cli/*.py + plwordnet_handler/cli/wrappers.py). Mapping:

| reference                                | here                         |
|------------------------------------------|------------------------------|
| --convert-to-nx-graph (graph build)      | build-graph                  |
| --test-api (smoke)                       | smoke                        |
| --dump-embedder-dataset-to-file          | export-dataset               |
| (implicit: downstream graph analytics)   | pagerank / components /      |
|                                          | labelprop / triangles        |
| --prepare-base-embeddings-* (pooling)    | pool-embeddings              |
| milvus similarity search                 | similar (exact top-k)        |
| embedder-dataset-dedupliactor            | dedup                        |
| (implicit: corpus statistics)            | profile (sketch one-pass)    |
| relgat triplet export (graph→trainset)   | walk-corpus (walks/skip-gram)|
| (implicit: synset grouping)              | communities (Louvain)        |

Launch locally (``python -m plwordnet_spark.cli ...``) or on a cluster:

    spark-submit --py-files plwordnet_spark.zip \\
        -m … cli entrypoint …  # north rule launch mode

Every subcommand is a thin argparse shell over the library modules —
no logic lives here.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from plwordnet_spark.session import get_spark


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--output", required=False, help="output directory (parquet)")


def cmd_smoke(args) -> int:
    spark = get_spark("cli-smoke", master=args.master)
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.extraction.udfs import parse_pages

    n = parse_pages(generate_pages(spark, 100, 42)).count()
    print(json.dumps({"ok": n == 100, "pages": n}))
    spark.stop()
    return 0 if n == 100 else 1


def cmd_build_graph(args) -> int:
    spark = get_spark("cli-build-graph", master=args.master)
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph, validate_graph
    from plwordnet_spark.sources.io import save_graph

    if args.pages_path:
        pages = spark.read.parquet(args.pages_path)
    else:
        pages = generate_pages(spark, args.n_pages, args.seed)
    tables = build_graph(pages, hub_degree_threshold=args.hub_threshold)
    report = validate_graph(tables)
    manifest = save_graph(tables.nodes, tables.edges, args.output)
    print(json.dumps({"validation": report, "manifest_counts": {
        "nodes": manifest["node_count"], "edges": manifest["edge_count"]}}))
    spark.stop()
    return 0


def _load_graph(spark, graph_dir):
    from plwordnet_spark.sources.io import load_graph

    nodes, edges, _ = load_graph(spark, graph_dir)
    return nodes, edges


def cmd_pagerank(args) -> int:
    spark = get_spark("cli-pagerank", master=args.master)
    from plwordnet_spark.graph.pagerank import pagerank

    nodes, edges = _load_graph(spark, args.graph)
    res = pagerank(
        spark, edges, nodes=nodes, tol=args.tol, max_iterations=args.max_iterations,
        checkpoint_dir=args.checkpoint_dir,
    )
    if args.output:
        res.state.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"iterations": res.iterations, "converged": res.converged,
                      "metrics": res.metrics[-3:]}))
    spark.stop()
    return 0


def cmd_components(args) -> int:
    spark = get_spark("cli-components", master=args.master)
    from plwordnet_spark.graph.components import connected_components

    nodes, edges = _load_graph(spark, args.graph)
    res = connected_components(spark, edges, nodes=nodes)
    if args.output:
        res.state.write.mode("overwrite").parquet(args.output)
    n_comp = res.state.select("component").distinct().count()
    print(json.dumps({"iterations": res.iterations, "components": n_comp}))
    spark.stop()
    return 0


def cmd_labelprop(args) -> int:
    spark = get_spark("cli-labelprop", master=args.master)
    from plwordnet_spark.graph.labelprop import label_propagation

    nodes, edges = _load_graph(spark, args.graph)
    res = label_propagation(spark, edges, nodes=nodes, max_iterations=args.max_iterations)
    if args.output:
        res.state.write.mode("overwrite").parquet(args.output)
    n_lab = res.state.select("label").distinct().count()
    print(json.dumps({"iterations": res.iterations, "labels": n_lab}))
    spark.stop()
    return 0


def cmd_bfs(args) -> int:
    spark = get_spark("cli-bfs", master=args.master)
    from plwordnet_spark.graph.bfs import bfs_distances

    nodes, edges = _load_graph(spark, args.graph)
    sources = [int(s) for s in args.sources.split(",")]
    res = bfs_distances(
        spark, edges, sources=sources, nodes=nodes, directed=args.directed,
    )
    if args.output:
        res.state.write.mode("overwrite").parquet(args.output)
    reached = res.state.filter("dist IS NOT NULL").count()
    print(json.dumps({"iterations": res.iterations, "reached": reached}))
    spark.stop()
    return 0


def cmd_hits(args) -> int:
    spark = get_spark("cli-hits", master=args.master)
    from plwordnet_spark.graph.hits import hits

    nodes, edges = _load_graph(spark, args.graph)
    res = hits(spark, edges, nodes=nodes, max_iterations=args.max_iterations,
               tol=args.tol)
    if args.output:
        res.state.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"iterations": res.iterations, "converged": res.converged}))
    spark.stop()
    return 0


def cmd_triangles(args) -> int:
    spark = get_spark("cli-triangles", master=args.master)
    from plwordnet_spark.graph.triangles import triangle_count

    _nodes, edges = _load_graph(spark, args.graph)
    print(json.dumps({"triangles": triangle_count(edges)}))
    spark.stop()
    return 0


def cmd_export_dataset(args) -> int:
    """Balanced relation dataset export (reference
    --dump-embedder-dataset-to-file, embedder.py:156-209)."""
    spark = get_spark("cli-export-dataset", master=args.master)
    from plwordnet_spark.datasets.balanced import (
        balance_arithmetic,
        negative_synthesis,
        weight_partition,
    )
    from plwordnet_spark.sources.io import write_jsonl

    samples = spark.read.parquet(args.samples)
    low, high = weight_partition(samples, cut_weight=args.cut_weight)
    l_count, h_count = low.count(), high.count()
    plan = balance_arithmetic(l_count, h_count, ratio=args.ratio)
    negatives = negative_synthesis(
        high, samples, seed=args.seed, max_count=plan["add_examples"]
    )
    out = samples.select(
        "text_parent", "text_child", "relation_weight", "relation_name"
    ).unionByName(
        negatives.select("text_parent", "text_child", "relation_weight", "relation_name")
    )
    write_jsonl(out, args.output)
    print(json.dumps({"low": l_count, "high": h_count, **plan,
                      "total": out.count()}))
    spark.stop()
    return 0


def cmd_pool_embeddings(args) -> int:
    spark = get_spark("cli-pool", master=args.master)
    from plwordnet_spark.vectors.pooling import mean_pool, weighted_mean_pool

    df = spark.read.parquet(args.embeddings)
    df = df.withColumn("embedding", F.col(args.vec_col).cast("array<double>"))
    if args.weight_col:
        pooled = weighted_mean_pool(df, [args.group_col], weight_col=args.weight_col,
                                    normalize=args.normalize)
    else:
        pooled = mean_pool(df, [args.group_col], normalize=args.normalize)
    pooled.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"groups": pooled.count()}))
    spark.stop()
    return 0


def cmd_similar(args) -> int:
    spark = get_spark("cli-similar", master=args.master)
    from plwordnet_spark.vectors.similarity import cosine_topk

    corpus = spark.read.parquet(args.embeddings).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = corpus.filter(F.col("vec_id").isin(args.ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(corpus, queries, k=args.k)
    for row in top.orderBy("query_id", "rank").collect():
        print(json.dumps({"query_id": row.query_id, "vec_id": row.vec_id,
                          "sim": round(row.sim, 6), "rank": row.rank}))
    spark.stop()
    return 0


def cmd_dedup(args) -> int:
    spark = get_spark("cli-dedup", master=args.master)
    from plwordnet_spark.cache import CacheScope
    from plwordnet_spark.textops.dedup import exact_dedup, minhash_lsh_dedup

    docs = spark.read.parquet(args.documents).select("doc_id", "text")
    # own the operator's internal caches: consume, then release — a
    # long-lived service calling this per-request stays storage-flat
    with CacheScope() as scope:
        if args.method == "exact":
            kept = exact_dedup(docs)
            pairs_n = 0
        else:
            kept, pairs = minhash_lsh_dedup(
                spark, docs, threshold=args.threshold, scope=scope
            )
            pairs_n = pairs.count()
        if args.output:
            kept.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"input": docs.count(), "kept": kept.count(),
                          "dup_pairs": pairs_n}))
    spark.stop()
    return 0


def cmd_corpus_clean(args) -> int:
    """Training-corpus prep pipeline: C4 line dedup → benchmark
    decontamination → deterministic stratified sampling, with a
    per-stage count report (the corpus-level composition of
    textops.lines / textops.contamination / textops.sampling)."""
    spark = get_spark("cli-corpus-clean", master=args.master)
    from pyspark.sql import functions as F

    from plwordnet_spark.textops.contamination import ngram_contamination
    from plwordnet_spark.textops.lines import line_dedup
    from plwordnet_spark.textops.sampling import stratified_sample

    docs = spark.read.parquet(args.documents)
    report: dict = {"input": docs.count()}

    if args.line_min_count > 0:
        cleaned = line_dedup(docs.select("doc_id", "text"),
                             min_count=args.line_min_count)
        docs = docs.drop("text").join(cleaned, "doc_id")
        report["after_line_dedup"] = docs.count()

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        cont = ngram_contamination(docs, bench, n=args.ngram)
        clean_ids = cont.filter(
            F.col("contamination") < args.max_contamination
        ).select("doc_id")
        report["contaminated_dropped"] = report.get(
            "after_line_dedup", report["input"]
        ) - clean_ids.count()
        docs = docs.join(clean_ids, "doc_id", "left_semi")

    if args.rates:
        rates = {
            k: float(v)
            for k, v in (kv.split("=", 1) for kv in args.rates.split(","))
        }
        docs = stratified_sample(
            docs, rates, strata_col=args.strata_col,
            default_rate=args.default_rate, seed=args.seed,
        )
        report["sampled"] = docs.count()

    if args.output:
        docs.write.mode("overwrite").parquet(args.output)
    print(json.dumps(report))
    spark.stop()
    return 0


def cmd_communities(args) -> int:
    """Multi-level Louvain over an edge table (graph/louvain.py):
    writes (id, label) and reports community count + modularity of the
    flattened partition — the clustering every host-level rollup and
    SemDeDup-style gate consumes."""
    spark = get_spark("cli-communities", master=args.master)
    from plwordnet_spark.graph.louvain import louvain
    from plwordnet_spark.graph.stats import modularity

    edges = spark.read.parquet(args.edges)
    labels = louvain(
        spark, edges, levels=args.levels, rounds_per_level=args.rounds
    )
    comm = labels.select("id", F.col("label").alias("community"))
    q = modularity(edges, comm).first()["modularity"]
    report = {
        "nodes": labels.count(),
        "communities": labels.select("label").distinct().count(),
        "modularity": q,
        "levels": args.levels,
    }
    if args.output:
        labels.write.mode("overwrite").parquet(args.output)
    print(json.dumps(report))
    spark.stop()
    return 0


def cmd_walk_corpus(args) -> int:
    """Graph-embedding corpus generation: deterministic (node2vec-
    biased when p/q != 1) random walks over an edge table, optionally
    folded to skip-gram (center, context, n) training pairs — the
    DeepWalk/node2vec data pipeline as one job (graph/walks.py)."""
    spark = get_spark("cli-walk-corpus", master=args.master)
    from plwordnet_spark.graph.walks import (
        node2vec_walks,
        random_walks,
        skipgram_pairs,
    )

    edges = spark.read.parquet(args.edges)
    if args.p == 1.0 and args.q == 1.0:
        walks = random_walks(
            spark, edges, walk_length=args.length,
            walks_per_node=args.walks, seed=args.seed,
        )
    else:
        walks = node2vec_walks(
            spark, edges, walk_length=args.length, p=args.p, q=args.q,
            walks_per_node=args.walks, seed=args.seed,
        )
    out = skipgram_pairs(walks, window=args.window) if args.pairs else walks
    report = {"rows": out.count(), "mode": "pairs" if args.pairs else "walks"}
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
    print(json.dumps(report))
    spark.stop()
    return 0


def cmd_spam_mass(args) -> int:
    """TrustRank spam mass over a built graph: PR vs seeded-trust rank
    per page (graph/trustrank.py); seeds = the trusted whitelist."""
    spark = get_spark("cli-spam-mass", master=args.master)
    from pyspark.sql import functions as F

    from plwordnet_spark.cache import CacheScope
    from plwordnet_spark.graph.trustrank import spam_mass

    _nodes, edges = _load_graph(spark, args.graph)
    seeds = [int(s) for s in args.seeds.split(",") if s.strip()]
    with CacheScope() as scope:
        res = spam_mass(
            spark, edges, seeds, tol=args.tol,
            max_iterations=args.max_iterations, scope=scope,
        )
        if args.output:
            res.state.write.mode("overwrite").parquet(args.output)
        worst = [
            {"id": r["id"], "spam_mass": round(r["spam_mass"], 6)}
            for r in res.state.orderBy(F.desc("spam_mass"), "id").limit(5).collect()
        ]
        print(json.dumps({
            "pr_iterations": res.pr_iterations,
            "tr_iterations": res.tr_iterations,
            "converged": res.converged,
            "top_spam_mass": worst,
        }))
    spark.stop()
    return 0


def cmd_resolve_chains(args) -> int:
    """Pointer-doubling redirect resolution (graph/chains.py) over a
    (src, dst) parquet mapping; writes (src, final_dst, hops, is_cycle)."""
    spark = get_spark("cli-resolve-chains", master=args.master)
    from pyspark.sql import functions as F

    from plwordnet_spark.graph.chains import resolve_chains

    redirects = spark.read.parquet(args.redirects).select("src", "dst")
    res = resolve_chains(spark, redirects)
    state = res.state.cache()
    n_cycle = state.filter(F.col("is_cycle")).count()
    n_total = state.count()
    max_hops = state.agg(F.max("hops")).collect()[0][0]
    if args.output:
        state.write.mode("overwrite").parquet(args.output)
    state.unpersist()
    print(json.dumps({
        "rounds": res.iterations,
        "resolved": n_total - n_cycle,
        "cycles": n_cycle,
        "max_hops": max_hops,
    }))
    spark.stop()
    return 0


def cmd_profile(args) -> int:
    """Corpus profile via sketches — the one-pass shape that survives
    100 TB, where exact distinct counts / percentiles would be a full
    shuffle of the corpus: HLL++ distincts (approx_count_distinct) and
    Greenwald-Khanna length percentiles (percentile_approx), plus a
    bounded exact top-k over the low-cardinality lang column."""
    spark = get_spark("cli-profile", master=args.master)
    docs = spark.read.parquet(args.documents)
    text_len = F.length("text")
    row = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct("doc_id", args.rsd).alias("approx_distinct_ids"),
        F.approx_count_distinct(
            F.xxhash64(F.lower(F.trim(F.col("text")))), args.rsd
        ).alias("approx_distinct_texts"),
        F.percentile_approx(text_len, [0.5, 0.9, 0.99], 10000).alias("len_p"),
        F.round(F.avg(text_len), 2).alias("mean_len"),
    ).first()
    langs = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(10)
        .collect()
    }
    n_docs = int(row["n_docs"])
    approx_texts = int(row["approx_distinct_texts"])
    # percentile_approx/avg return NULL on zero rows — keep the empty
    # profile emitting valid JSON instead of crashing
    print(json.dumps({
        "n_docs": n_docs,
        "approx_distinct_ids": int(row["approx_distinct_ids"]),
        "approx_distinct_texts": approx_texts,
        "approx_exact_dup_rate": round(max(n_docs - approx_texts, 0) / n_docs, 4)
        if n_docs else 0.0,
        "len_p50_p90_p99": (
            [int(x) for x in row["len_p"]] if row["len_p"] is not None else None
        ),
        "mean_len": float(row["mean_len"]) if row["mean_len"] is not None else None,
        "top_langs": langs,
    }))
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="plwordnet-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("smoke"); _add_common(p); p.set_defaults(fn=cmd_smoke)

    p = sub.add_parser("build-graph"); _add_common(p)
    p.add_argument("--pages-path", default=None)
    p.add_argument("--n-pages", type=int, default=10000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--hub-threshold", type=int, default=64)
    p.set_defaults(fn=cmd_build_graph)

    for name, fn in (("pagerank", cmd_pagerank), ("components", cmd_components),
                     ("labelprop", cmd_labelprop), ("triangles", cmd_triangles),
                     ("bfs", cmd_bfs), ("hits", cmd_hits)):
        p = sub.add_parser(name); _add_common(p)
        p.add_argument("--graph", required=True, help="dir from build-graph")
        if name == "pagerank":
            p.add_argument("--tol", type=float, default=1e-6)
            p.add_argument("--max-iterations", type=int, default=100)
            p.add_argument("--checkpoint-dir", default=None)
        if name == "bfs":
            p.add_argument("--sources", required=True,
                           help="comma-separated seed node ids")
            p.add_argument("--directed", action="store_true")
        if name == "hits":
            p.add_argument("--tol", type=float, default=1e-8)
            p.add_argument("--max-iterations", type=int, default=50)
        if name == "labelprop":
            p.add_argument("--max-iterations", type=int, default=10)
        p.set_defaults(fn=fn)

    p = sub.add_parser("spam-mass"); _add_common(p)
    p.add_argument("--graph", required=True, help="dir from build-graph")
    p.add_argument("--seeds", required=True, help="comma-separated trusted node ids")
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iterations", type=int, default=100)
    p.set_defaults(fn=cmd_spam_mass)

    p = sub.add_parser("resolve-chains"); _add_common(p)
    p.add_argument("--redirects", required=True, help="(src,dst) parquet")
    p.set_defaults(fn=cmd_resolve_chains)

    p = sub.add_parser("export-dataset"); _add_common(p)
    p.add_argument("--samples", required=True)
    p.add_argument("--cut-weight", type=float, default=0.14)
    p.add_argument("--ratio", type=float, default=2.0)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_export_dataset)

    p = sub.add_parser("pool-embeddings"); _add_common(p)
    p.add_argument("--embeddings", required=True)
    p.add_argument("--group-col", default="label")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--weight-col", default=None)
    p.add_argument("--normalize", action="store_true")
    p.set_defaults(fn=cmd_pool_embeddings)

    p = sub.add_parser("similar"); _add_common(p)
    p.add_argument("--embeddings", required=True)
    p.add_argument("--ids", type=int, nargs="+", required=True)
    p.add_argument("-k", type=int, default=10)
    p.set_defaults(fn=cmd_similar)

    p = sub.add_parser("profile"); _add_common(p)
    p.add_argument("--documents", required=True)
    p.add_argument("--rsd", type=float, default=0.02)
    p.set_defaults(fn=cmd_profile)

    p = sub.add_parser("corpus-clean"); _add_common(p)
    p.add_argument("--documents", required=True)
    p.add_argument("--line-min-count", type=int, default=0,
                   help="drop lines repeated this often corpus-wide (0 = skip)")
    p.add_argument("--benchmark", default=None,
                   help="parquet of held-out docs to decontaminate against")
    p.add_argument("--ngram", type=int, default=13)
    p.add_argument("--max-contamination", type=float, default=0.2)
    p.add_argument("--rates", default=None,
                   help="per-stratum keep-rates, e.g. en=0.3,de=0.8")
    p.add_argument("--strata-col", default="lang")
    p.add_argument("--default-rate", type=float, default=1.0)
    p.add_argument("--seed", type=int, default=0)
    p.set_defaults(fn=cmd_corpus_clean)

    p = sub.add_parser("communities"); _add_common(p)
    p.add_argument("--edges", required=True, help="parquet edge table (src, dst[, weight])")
    p.add_argument("--levels", type=int, default=2)
    p.add_argument("--rounds", type=int, default=6)
    p.set_defaults(fn=cmd_communities)

    p = sub.add_parser("walk-corpus"); _add_common(p)
    p.add_argument("--edges", required=True, help="parquet edge table (src, dst[, weight])")
    p.add_argument("--length", type=int, default=10)
    p.add_argument("--walks", type=int, default=2)
    p.add_argument("--p", type=float, default=1.0, help="node2vec return bias")
    p.add_argument("--q", type=float, default=1.0, help="node2vec in-out bias")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--pairs", action="store_true",
                   help="emit skip-gram (center, context, n) pairs instead of walks")
    p.add_argument("--window", type=int, default=2)
    p.set_defaults(fn=cmd_walk_corpus)

    p = sub.add_parser("dedup"); _add_common(p)
    p.add_argument("--documents", required=True)
    p.add_argument("--method", default="minhash", choices=["exact", "minhash"])
    p.add_argument("--threshold", type=float, default=0.8)
    p.set_defaults(fn=cmd_dedup)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
