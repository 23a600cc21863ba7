"""Memory-pressure headline: PageRank at ~160M edges on a bounded heap.

The per-round bench's 24M-edge graph fits trivially in the 16g local
JVM; this run is the closest sandbox analog to the 100× question —
does the job survive (and how much does it slow) once the cached edge
+ scatter tables exceed execution memory and Spark starts spilling?

The edge and scatter caches use the DataFrame default
MEMORY_AND_DISK(_DESER), so overflow goes to local disk instead of
OOM — the same degradation mode a 1000-executor cluster relies on.
Spill evidence comes from the Spark UI REST API (enabled just for this
run): summed memory/disk spill bytes and peak execution memory across
completed stages.

Usage:
    python tools/run_big.py [--edges 160000000] [--iters 5] [--cpus 32]
Writes BENCH/runs/huge_<edges>_<cpus>.json and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from run_scaling import _make_edges  # noqa: E402


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.load(fh)


def _spill_stats(ui_port: int = 4040) -> dict:
    """Sum spill/peak-memory metrics over all completed stages."""
    try:
        apps = _rest(f"http://localhost:{ui_port}/api/v1/applications")
        app_id = apps[0]["id"]
        stages = _rest(
            f"http://localhost:{ui_port}/api/v1/applications/{app_id}/stages?status=complete"
        )
    except Exception as exc:  # UI off / port taken — report why, don't die
        return {"error": str(exc)}
    return {
        "stages": len(stages),
        "memory_spill_bytes": sum(s.get("memoryBytesSpilled", 0) for s in stages),
        "disk_spill_bytes": sum(s.get("diskBytesSpilled", 0) for s in stages),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "peak_execution_memory": max(
            (s.get("peakExecutionMemory", 0) for s in stages), default=0
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=160_000_000)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from plwordnet_spark.graph.pagerank import pagerank
    from plwordnet_spark.session import get_spark

    spark = get_spark(
        app_name="plwordnet-spark-big",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    n_nodes = max(args.edges // 10, 1)
    edges = (
        _make_edges(spark, args.edges, n_nodes)
        .repartition(args.cpus * 4, "src")  # wider than the 24M row: keep
        .cache()                            # per-partition sort/agg spillable
    )
    t0 = time.time()
    n_edges = edges.count()
    stage_sec = time.time() - t0

    t0 = time.time()
    res = pagerank(
        spark, edges, tol=0.0, max_iterations=args.iters,
    )
    sec = time.time() - t0
    res.state.count()

    out = {
        "kind": "huge",
        "cpus": args.cpus,
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "iterations": args.iters,
        "generate_cache_seconds": round(stage_sec, 1),
        "pagerank_seconds": round(sec, 1),
        "edge_iters_per_sec": round(n_edges * args.iters / sec, 1),
        "per_core": round(n_edges * args.iters / sec / args.cpus, 1),
        "spill": _spill_stats(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    os.makedirs(os.path.join(REPO, "BENCH", "runs"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "runs", f"huge_{n_edges}_{args.cpus}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
