"""One benchmark execution in a fresh process: set up a Spark session,
run one workload's job through the engine's public functions, and write
what was measured (spans, counts, collected outputs) to the run directory.

Started by run.py as ``python3 perfbench/worker.py <spec.json>``; the
spec names the workload, the input record, the run directory and whether
the run is traced. The parent owns the process start time, the oracles
and the report.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.inputs import ALPHA  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _session(spec: dict, tracer: Tracer):
    from plwordnet_spark import get_spark

    work = spec["work_dir"]
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if spec["trace"]:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        # one log file (Spark 4 rolls event logs into a directory by default)
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", master=f"local[{spec['cores']}]", extra_conf=conf)
    if spec["trace"]:
        tracer.sc = spark.sparkContext
    return spark


def _first_udf_batch(spark) -> None:
    from plwordnet_spark.extraction.udfs import extract_text_udf

    frame = spark.createDataFrame([(b"<html><body><p>##K: a ##D: b</p></body></html>",)], "html binary")
    frame.select(extract_text_udf("html")).collect()


def _crawl_to_rank(spark, spec: dict, tracer: Tracer, out: dict) -> None:
    from plwordnet_spark.extraction.udfs import parse_pages
    from plwordnet_spark.graph.build import build_graph, validate_graph
    from plwordnet_spark.graph.components import connected_components
    from plwordnet_spark.graph.labelprop import label_propagation
    from plwordnet_spark.graph.pagerank import pagerank
    from plwordnet_spark.graph.triangles import triangle_count

    with tracer.span("session.first_job"):
        pages = spark.read.parquet(os.path.join(spec["inputs"]["dir"], "pages.parquet"))
        out["pages"] = pages.count()
    with tracer.span("session.first_udf"):
        _first_udf_batch(spark)
    out["ready_mono"] = time.monotonic()

    with tracer.span("job"):
        with tracer.span("extraction.parse"):
            parsed = parse_pages(pages).select("url", "text").toPandas()
        with tracer.span("graph.build"):
            tables = build_graph(pages)
            out["edges"] = tables.edges.cache().count()
        with tracer.span("graph.build.validate"):
            out["validate"] = validate_graph(tables)
        with tracer.span("graph.pagerank"):
            pr = pagerank(
                spark, tables.edges, alpha=ALPHA, tol=0.0,
                max_iterations=spec["params"]["pagerank_iterations"],
            )
            ranks = pr.state.toPandas()
        with tracer.span("graph.components"):
            cc = connected_components(spark, tables.edges)
            components = cc.state.toPandas()
        with tracer.span("graph.labelprop"):
            lp = label_propagation(spark, tables.edges, max_iterations=spec["params"]["lpa_iterations"])
            labels = lp.state.toPandas()
        with tracer.span("graph.triangles"):
            out["triangles"] = triangle_count(tables.edges)

    out["pagerank_iterations"] = pr.iterations
    out["components_iterations"] = cc.iterations
    out["labelprop_iterations"] = lp.iterations
    save = spec["out_dir"]
    parsed.to_parquet(os.path.join(save, "parsed.parquet"))
    tables.edges.select("src", "dst", "rel_id", "weight").toPandas().to_parquet(os.path.join(save, "edges.parquet"))
    ranks.to_parquet(os.path.join(save, "ranks.parquet"))
    components.to_parquet(os.path.join(save, "components.parquet"))
    labels.to_parquet(os.path.join(save, "labels.parquet"))


def _incremental_crawl(spark, spec: dict, tracer: Tracer, out: dict) -> None:
    from pyspark.sql import functions as F

    from plwordnet_spark.graph.build import build_graph
    from plwordnet_spark.graph.pagerank import pagerank
    from plwordnet_spark.streaming.ingest import EdgeLog, read_page_stream, stream_pages_to_edges

    stream_dir = os.path.join(spec["inputs"]["dir"], "stream")
    edges_dir = os.path.join(spec["work_dir"], "edgelog")
    compact_every = spec["params"]["compact_every"]
    with tracer.span("session.first_job"):
        prev_urls = spark.read.parquet(os.path.join(spec["inputs"]["dir"], "prev_ranks.parquet"))
        out["prev_ranks"] = prev_urls.count()
    prev = prev_urls.select(F.xxhash64("url").alias("id"), "rank")
    with tracer.span("session.first_udf"):
        _first_udf_batch(spark)
    out["ready_mono"] = time.monotonic()

    with tracer.span("job"):
        with tracer.span("streaming.ingest"):
            query = stream_pages_to_edges(
                spark,
                read_page_stream(spark, stream_dir, max_files_per_trigger=1),
                edges_dir,
                os.path.join(spec["work_dir"], "stream_checkpoint"),
                compact_every=compact_every,
            )
            query.awaitTermination()
        with tracer.span("storage.snapshots.latest"):
            log = EdgeLog(spark, edges_dir, compact_every=compact_every)
            edges = log.latest()[0].cache()
            out["edges"] = edges.count()
        with tracer.span("graph.pagerank"):
            pr = pagerank(
                spark, edges, alpha=ALPHA, tol=0.0,
                max_iterations=spec["params"]["pagerank_iterations"], initial_ranks=prev,
            )
            ranks = pr.state.toPandas()

    out["pagerank_iterations"] = pr.iterations
    out["progress"] = [p["durationMs"] for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    out["manifest"] = log.store.manifest()
    out["approx_distinct_edges"] = log.approx_distinct_edges()
    out["pages"] = spec["params"]["pages"]
    save = spec["out_dir"]
    edges.toPandas().to_parquet(os.path.join(save, "edges.parquet"))
    batch = build_graph(spark.read.parquet(stream_dir)).edges
    batch.select("src", "dst", "rel_id", "weight").toPandas().to_parquet(os.path.join(save, "batch_edges.parquet"))
    ranks.to_parquet(os.path.join(save, "ranks.parquet"))
    prev.toPandas().to_parquet(os.path.join(save, "init.parquet"))


WORKLOADS = {"crawl_to_rank": _crawl_to_rank, "incremental_crawl": _incremental_crawl}


def _host_probe(spark, out: dict) -> None:
    """JVM-only Spark job of fixed size and the driver JVM's peak RSS:
    diagnostics that let host drift be told apart from code changes."""
    start = time.perf_counter()
    spark.range(0, 20_000_000, numPartitions=4).selectExpr("sum(id % 7)").first()
    out["jvm_probe_s"] = time.perf_counter() - start
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    out["spark_version"] = spark.version
    out["java_version"] = jvm.java.lang.System.getProperty("java.version")
    pid = jvm.java.lang.ProcessHandle.current().pid()
    out["jvm_peak_rss_mb"] = 0.0
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out["jvm_peak_rss_mb"] = int(line.split()[1]) / 1024.0
    except OSError:
        pass


def main(spec_path: str) -> int:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    tracer = Tracer(spec["run_id"])
    out: dict = {}
    spark = _session(spec, tracer)
    try:
        WORKLOADS[spec["workload"]](spark, spec, tracer, out)
        _host_probe(spark, out)
    finally:
        spark.stop()
        out["spans"] = tracer.spans
        with open(os.path.join(spec["out_dir"], "result.json"), "w", encoding="utf-8") as fh:
            json.dump(out, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
