"""Benchmark command: one workload, one seed, one fresh engine process.

    python3 perfbench/run.py --workload crawl_to_rank --seed 7 --seconds 30 --trace 0

Makes the workload's inputs from the seed (cached, untimed), starts
perfbench/worker.py as the single Spark client, checks every output
against an oracle outside the timed region, and prints one JSON line:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` an untraced
and then a traced execution of the same inputs, and the per-layer
metrics of the traced one plus the tracing overhead. See GLOSSARY.md.

Exits 2 without a result when the engine package is not next to this
directory, and 1 when an execution crashes or overruns its deadline.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")
WORK_DIR = os.path.join(HERE, ".work")
RUNS_DIR = os.path.join(HERE, ".runs")

# Steadiness settings. The same core count for every workload: two, since
# these jobs are driver-bound and on a shared 4-vCPU host local[2] ran as
# fast as local[4] with a smaller run-to-run spread; driver memory well
# below the RAM of a small shared host (the engine's default is 16g); a
# deadline that keeps a traced run (two executions) under 180 s.
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEM = "3g"
DEADLINE_S = 170.0


class RunFailed(RuntimeError):
    """An execution crashed or overran the deadline."""


def _stop_group(pgid: int) -> None:
    """Wait for every process of the worker's session (driver JVM, Python
    daemons) to end; terminate the stragglers."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        for _ in range(100):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def execute(workload: str, record: dict, params: dict, traced: bool, deadline: float) -> dict:
    """Run one worker process; return its result with ``spawn_mono`` set
    and its event log parsed (traced runs). The work directory — Spark
    local dirs, temp files, event log, snapshots — is removed after."""
    run_id = f"{workload}-s{record['seed']}-{'t' if traced else 'u'}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(WORK_DIR, run_id)
    out_dir = os.path.join(work, "out")
    for sub in ("local", "tmp", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub))
    spec = {
        "run_id": run_id, "workload": workload, "inputs": record, "params": params,
        "trace": traced, "cores": CORES, "work_dir": work, "out_dir": out_dir,
    }
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh)
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        # the JVMs' perf-counter files would go to /tmp whatever the temp dir
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    log_path = os.path.join(work, "worker.log")
    try:
        with open(log_path, "w", encoding="utf-8") as log:
            spawn_mono = time.monotonic()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_group(proc.pid)
                proc.wait()
        if rc != 0:
            with open(log_path, encoding="utf-8", errors="replace") as fh:
                tail = fh.read()[-3000:]
            why = "overran the deadline" if rc is None else f"exited with {rc}"
            raise RunFailed(f"{run_id} {why}:\n{tail}")
        with open(os.path.join(out_dir, "result.json"), encoding="utf-8") as fh:
            result = json.load(fh)
        result["spawn_mono"] = spawn_mono
        result["run_id"] = run_id
        result["checks"] = _check(workload, record, params, result, out_dir)
        if traced:
            from perfbench.trace import group_stats, read_event_log

            result["groups"] = group_stats(read_event_log(os.path.join(work, "eventlog")), result["spans"])
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _check(workload: str, record: dict, params: dict, res: dict, out_dir: str) -> dict[str, list[str]]:
    """Oracle verdicts by check name (empty list = passed)."""
    import pandas as pd

    from perfbench import oracles

    def load(name):
        return pd.read_parquet(os.path.join(out_dir, name))

    edges = load("edges.parquet")
    checks = {"pagerank": oracles.check_pagerank(
        edges, load("ranks.parquet"), res["pagerank_iterations"], params["pagerank_iterations"],
        init=load("init.parquet") if workload == "incremental_crawl" else None,
    )}
    if workload == "crawl_to_rank":
        pages = pd.read_parquet(os.path.join(record["dir"], "pages.parquet"), columns=["url", "text"])
        parsed = load("parsed.parquet")
        res["text_mismatches"] = oracles.text_mismatches(pages, parsed)
        checks["extraction"] = oracles.check_text(pages, parsed)
        checks["validate_graph"] = oracles.check_validate(res["validate"])
        checks["components"] = oracles.check_components(edges, load("components.parquet"))
        checks["labelprop"] = oracles.check_labels(edges, load("labels.parquet"))
        checks["triangles"] = oracles.check_triangles(edges, res["triangles"])
    else:
        checks["streamed_edges"] = oracles.check_streamed_edges(
            edges, load("batch_edges.parquet"), res["approx_distinct_edges"]
        )
    return checks


def _span(res: dict, name: str) -> float:
    return sum(s["end"] - s["start"] for s in res["spans"] if s["name"] == name)


def end_to_end(workload: str, res: dict) -> dict[str, float]:
    if workload == "crawl_to_rank":
        edge_table_s = _span(res, "graph.build") + _span(res, "graph.build.validate")
    else:
        edge_table_s = _span(res, "streaming.ingest")
    return {
        "setup_s": res["ready_mono"] - res["spawn_mono"],
        "job_s": _span(res, "job"),
        "edge_table_pages_per_s": res["pages"] / edge_table_s,
    }


def _quantile(values: list[float], q: int) -> float:
    """q-th quartile (statistics.quantiles, exclusive method)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=4)[q - 1]


def per_layer(workload: str, res: dict, untraced_job_s: float) -> dict[str, float]:
    """Every per-layer metric of GLOSSARY.md; a layer the workload does
    not call reads 0."""
    g = res["groups"]

    def group(name):
        from perfbench.trace import GroupStats

        return g.get(name) or GroupStats()

    def driver_s(name):
        return max(0.0, _span(res, name) - group(name).job_active_s)

    m: dict[str, float] = {
        "session.start_s": _span(res, "session.start"),
        "session.first_job_s": _span(res, "session.first_job"),
        "session.first_udf_s": _span(res, "session.first_udf"),
        "session.jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
    }
    parse_s = _span(res, "extraction.parse")
    m["extraction.parse_s"] = parse_s
    m["extraction.pages_per_s"] = res["pages"] / parse_s if parse_s else 0.0
    m["extraction.text_mismatches"] = res.get("text_mismatches", 0)

    build, validate = group("graph.build"), group("graph.build.validate")
    m["graph.build.s"] = _span(res, "graph.build")
    m["graph.build.validate_s"] = _span(res, "graph.build.validate")
    m["graph.build.edges"] = res["edges"] if workload == "crawl_to_rank" else 0
    m["graph.build.jobs"] = build.jobs + validate.jobs
    m["graph.build.shuffle_bytes"] = build.shuffle_bytes + validate.shuffle_bytes
    m["graph.build.driver_s"] = driver_s("graph.build") + driver_s("graph.build.validate")

    pr, iters = group("graph.pagerank"), res["pagerank_iterations"]
    pr_s = _span(res, "graph.pagerank")
    m.update({
        "graph.pagerank.s": pr_s,
        "graph.pagerank.iterations": iters,
        "graph.pagerank.s_per_iter": pr_s / iters,
        "graph.pagerank.jobs_per_iter": pr.jobs / iters,
        "graph.pagerank.driver_s": driver_s("graph.pagerank"),
        "graph.pagerank.shuffle_bytes_per_iter": pr.shuffle_bytes / iters,
        "graph.pagerank.task_skew": pr.task_skew,
        "graph.pagerank.failed_tasks": pr.failed_tasks,
        "graph.pagerank.edge_iters_per_s": res["edges"] * iters / pr_s,
    })

    cc = group("graph.components")
    m.update({
        "graph.components.s": _span(res, "graph.components"),
        "graph.components.iterations": res.get("components_iterations", 0),
        "graph.components.jobs": cc.jobs,
        "graph.components.shuffle_bytes": cc.shuffle_bytes,
        "graph.components.driver_s": driver_s("graph.components"),
        "graph.labelprop.s": _span(res, "graph.labelprop"),
        "graph.labelprop.iterations": res.get("labelprop_iterations", 0),
        "graph.labelprop.shuffle_bytes": group("graph.labelprop").shuffle_bytes,
        "graph.triangles.s": _span(res, "graph.triangles"),
        "graph.triangles.triangles": res.get("triangles", 0),
        "graph.triangles.shuffle_bytes": group("graph.triangles").shuffle_bytes,
    })

    progress = res.get("progress", [])
    commits = [p.get("triggerExecution", 0) / 1000.0 for p in progress]
    overhead = [(p.get("triggerExecution", 0) - p.get("addBatch", 0)) / 1000.0 for p in progress]
    manifest = res.get("manifest", [])
    deltas = [e for e in manifest if e["metrics"].get("kind") == "delta"]
    bases = [e for e in manifest if e["metrics"].get("kind") == "base"]
    ingest = group("streaming.ingest")
    m.update({
        "streaming.ingest.batches": len(progress),
        "streaming.ingest.jobs_per_batch": ingest.jobs / len(progress) if progress else 0.0,
        "streaming.ingest.trigger_overhead_s": statistics.median(overhead) if overhead else 0.0,
        "streaming.ingest.replays_skipped": len(progress) - len(deltas),
        "streaming.ingest.failed_tasks": ingest.failed_tasks,
        "streaming.ingest.commit_p50_s": _quantile(commits, 2),
        "streaming.ingest.commit_p75_s": _quantile(commits, 3),
    })

    written = ingest.output_bytes
    live = sum(f["bytes"] for e in manifest if not e.get("expired") for f in e.get("partition_lineage", []))
    # compaction time: from the commit of the delta that triggered it to
    # the commit of the base it wrote
    by_id = {e["snapshot_id"]: e for e in manifest}
    compaction_s = sum(
        b["committed_at"] - by_id[b["snapshot_id"] - 1]["committed_at"] for b in bases if b["snapshot_id"] > 0
    )
    approx, exact = res.get("approx_distinct_edges"), res["edges"]
    m.update({
        "storage.snapshots.bytes_written": written,
        "storage.snapshots.live_bytes": live,
        "storage.snapshots.write_amp": written / live if live else 0.0,
        "storage.snapshots.compactions": len(bases),
        "storage.snapshots.compaction_s": compaction_s,
        "storage.snapshots.latest_s": _span(res, "storage.snapshots.latest"),
        "storage.snapshots.approx_distinct_err": abs(approx - exact) / exact if approx else 0.0,
        "trace.overhead_s": _span(res, "job") - untraced_job_s,
    })
    return m


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), Linux only."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_record(workload: str, seed: int, size: str, traced: bool) -> dict:
    """Diagnostics, not metrics: what ran where, and a fixed host-speed
    probe, so a disagreement between two run sets can be traced to drift."""
    start = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    py_probe_s = time.perf_counter() - start
    digest = hashlib.sha256()
    pkg = os.path.join(REPO, "plwordnet_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(root, name), "rb") as fh:
                    digest.update(name.encode() + fh.read())
    return {
        "workload": workload, "seed": seed, "size": size, "trace": traced,
        "nproc": os.cpu_count(), "cores": CORES, "driver_mem": DRIVER_MEM,
        "source_sha256": digest.hexdigest()[:16], "python": platform.python_version(),
        "python_probe_s": py_probe_s, "steal_at_start_s": _steal_s(),
    }


def _print_spans(res: dict) -> None:
    from perfbench.trace import self_times

    print(f"spans of {res['run_id']} (self time = duration - child spans):")
    for name, self_s in self_times(res["spans"]).items():
        print(f"  {name:28s} {_span(res, name):9.3f} s   self {self_s:9.3f} s")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("--workload", required=True, choices=["crawl_to_rank", "incremental_crawl"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, default=30)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--size", choices=["full", "tiny"], default="full",
                        help="input size; tiny is for the smoke test")
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "plwordnet_spark", "__init__.py")):
        print(f"perfbench: engine package not found at {REPO}/plwordnet_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import inputs

    deadline = time.monotonic() + DEADLINE_S
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    host = host_record(args.workload, args.seed, args.size, bool(args.trace))
    host["seconds"] = args.seconds
    try:
        inputs.check_canary()
        record = inputs.prepare(args.workload, args.size, args.seed, CACHE_DIR)
        params = inputs.SIZES[args.workload][args.size]
        # a traced run pairs an untraced execution of the same inputs with
        # the traced one; their job_s difference is the tracing overhead
        results = [execute(args.workload, record, params, False, deadline)]
        if args.trace:
            results.append(execute(args.workload, record, params, True, deadline))
    except (inputs.InputError, RunFailed) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    checks = {f"{r['run_id']}:{k}": v for r in results for k, v in r["checks"].items()}
    failed = [f"{k}: {msg}" for k, v in checks.items() for msg in v]
    for line in failed:
        print(f"perfbench: check failed {line}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(args.workload, results[1], _span(results[0], "job"))
        _print_spans(results[-1])
        units = {m["name"]: m["unit"] for m in _declared("per_layer")}
    else:
        metrics = end_to_end(args.workload, results[0])
        units = {m["name"]: m["unit"] for m in _declared("end_to_end")}
    host.update({k: results[-1].get(k) for k in ("spark_version", "java_version", "jvm_probe_s")})
    host["finished_at"] = time.time()
    host["steal_s"] = _steal_s() - host.pop("steal_at_start_s")
    os.makedirs(RUNS_DIR, exist_ok=True)
    with open(os.path.join(RUNS_DIR, results[-1]["run_id"] + ".json"), "w", encoding="utf-8") as fh:
        counts = {k: results[-1].get(k) for k in ("edges", "pagerank_iterations", "components_iterations")}
        counts["commit_ms"] = [p.get("triggerExecution") for p in results[-1].get("progress", [])]
        json.dump({"host": host, "job_s": _span(results[-1], "job"), "correct": not failed, "counts": counts,
                   "metrics": metrics, "checks": checks, "spans": [r["spans"] for r in results]}, fh, indent=1)
    print("host: " + json.dumps(host), file=sys.stderr)
    report = {
        "correct": not failed,
        "attempted": len(checks),
        "failed": sum(1 for v in checks.values() if v),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(report))
    return 0


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)[kind]


if __name__ == "__main__":
    sys.exit(main())
