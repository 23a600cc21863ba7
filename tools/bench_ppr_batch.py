"""ppr_batch evidence: K personalized-PageRank vectors in ONE composite
loop vs K sequential one-hot `pagerank(personalization=...)` runs.

The composite loop's entire reason to exist is sharing every edge scan
and every shuffle across the K seeds (state = sparse (id, seed, rank));
the naive alternative pays K full rank loops — K× the per-iteration
join/gather cost and K scatter-table materializations. VERDICT r4 item 3
asked for this pair measured the way BENCH/LANDMARKS.md measured BFS
floods. Writes BENCH/runs/ppr_batch_<cpus>.json; medians of
``--reps`` interleaved repeats (composite rep, then sequential rep).

Usage:
    python tools/bench_ppr_batch.py [--edges 2200000] [--k 8]
        [--iters 10] [--reps 3] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from run_scaling import _make_edges  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=2_200_000)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--iters", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from plwordnet_spark.graph.pagerank import pagerank
    from plwordnet_spark.graph.ppr import ppr_batch
    from plwordnet_spark.session import get_spark

    spark = get_spark(app_name="plwordnet-spark-pprbatch", master=f"local[{args.cpus}]")
    n_nodes = max(args.edges // 10, 1)
    edges = _make_edges(spark, args.edges, n_nodes).repartition(args.cpus, "src").cache()
    n_edges = edges.count()
    seeds = [int(i * n_nodes / args.k) for i in range(args.k)]

    def run_composite() -> int:
        res = ppr_batch(
            spark, edges, seeds, tol=0.0, max_iterations=args.iters, weighted=False
        )
        return res.state.count()

    def run_sequential() -> int:
        total = 0
        for s in seeds:
            pers = spark.createDataFrame([(s, 1.0)], "id long, p double")
            res = pagerank(
                spark, edges, tol=0.0, max_iterations=args.iters,
                personalization=pers,
            )
            total += res.state.filter(F.col("rank") > 0).count()
        return total

    # warm both paths once (codegen + cache) outside the timings
    run_composite()

    comp_secs, seq_secs = [], []
    rows_comp = rows_seq = 0
    for _ in range(args.reps):
        t0 = time.time()
        rows_comp = run_composite()
        comp_secs.append(round(time.time() - t0, 2))
        t0 = time.time()
        rows_seq = run_sequential()
        seq_secs.append(round(time.time() - t0, 2))

    comp_med = statistics.median(comp_secs)
    seq_med = statistics.median(seq_secs)
    out = {
        "kind": "ppr_batch",
        "cpus": args.cpus,
        "n_edges": n_edges,
        "k": args.k,
        "iterations": args.iters,
        "composite_seconds": comp_med,
        "composite_reps": comp_secs,
        "composite_nonzero_rows": rows_comp,
        "sequential_seconds": seq_med,
        "sequential_reps": seq_secs,
        "sequential_nonzero_rows": rows_seq,
        "speedup": round(seq_med / comp_med, 2),
    }
    os.makedirs(os.path.join(REPO, "BENCH", "runs"), exist_ok=True)
    with open(
        os.path.join(REPO, "BENCH", "runs", f"ppr_batch_{args.cpus}.json"),
        "w", encoding="utf-8",
    ) as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
