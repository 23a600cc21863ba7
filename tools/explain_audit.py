"""Physical-plan hygiene audit.

Checks the plans Catalyst produces for the engine's key queries against
the properties that matter at 100 TB:

* parquet scans carry PushedFilters + pruned ReadSchema (predicate
  pushdown / column pruning reached the source),
* small dims join via BroadcastHashJoin,
* non-UDF stages sit inside WholeStageCodegen,
* the PageRank iteration plan reuses the cached, pre-partitioned
  scatter table (InMemoryTableScan, no re-Exchange of the edge side).

Prints PASS/FAIL per assertion plus the formatted plans. Run:
    python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from plwordnet_spark.session import get_spark  # noqa: E402

CHECKS: list[tuple[str, bool]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    CHECKS.append((name, ok))
    print(f"{'PASS' if ok else 'FAIL'}  {name}{(' — ' + detail) if detail else ''}")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit")

    # 1. filter + projection pushdown to parquet
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = lineitem.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    check(
        "filter pushed to parquet scan",
        "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan.replace(".0", ""),
        "PushedFilters present" if "PushedFilters" in plan else "no PushedFilters",
    )
    check(
        "column pruning (2-col ReadSchema)",
        "l_extendedprice" not in plan.split("ReadSchema")[-1].split("\n")[0],
    )

    # 2. broadcast join for small dims
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    jplan = plan_of(j)
    check("small dim joins as BroadcastHashJoin", "BroadcastHashJoin" in jplan)

    # 3. whole-stage codegen on agg pipeline
    agg = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    aplan = plan_of(agg)
    check("agg has map-side partial aggregation", "partial_sum" in aplan)
    # codegen spans appear as "*(N)" markers on the AQE final plan
    agg.collect()
    final_plan = agg._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    check(
        "agg inside WholeStageCodegen (final plan)",
        "*(1)" in final_plan or "WholeStageCodegen" in final_plan,
    )

    # 4. pagerank iteration: cached scatter (InMemoryTableScan), single
    #    gather aggregate
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph

    tables = build_graph(generate_pages(spark, 2000, 42))
    edges = tables.edges
    scatter = (
        edges.select("src", "dst", (F.col("weight") / F.lit(2.0)).alias("share"))
        .repartition("src")
        .cache()
    )
    scatter.count()
    ranks = tables.nodes.select("id", F.lit(0.1).alias("rank"))
    gather = (
        scatter.join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("share")).alias("incoming"))
    )
    gplan = plan_of(gather)
    check("gather join reads cached scatter", "InMemoryTableScan" in gplan)
    check(
        "gather has partial aggregation",
        "partial_sum" in gplan or "HashAggregate" in gplan,
    )

    # 5. extraction pipeline: single Python-UDF stage (ArrowEvalPython)
    pages = generate_pages(spark, 200, 42)
    from plwordnet_spark.extraction.udfs import extract_text_udf

    eplan = plan_of(pages.select(extract_text_udf("html").alias("t")))
    check("extraction runs as Arrow-batched UDF", "ArrowEvalPython" in eplan)

    # 6. frontier BFS relax round: the state side of the relax join is
    #    the FRONTIER (filter on the changed flag pushed below the join),
    #    and the gather min has map-side partial aggregation
    state = (
        tables.nodes.select(
            "id", F.lit(0).cast("long").alias("dist"),
            (F.col("id") % 7 == 0).alias("changed"),
        ).localCheckpoint(eager=True)
    )
    rel = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                       F.lit(1).cast("long").alias("w"))
    frontier = state.filter(F.col("changed")).select(F.col("id").alias("u"), "dist")
    relax = (
        rel.join(frontier, "u")
        .groupBy(F.col("v").alias("id"))
        .agg(F.min(F.col("dist") + F.col("w")).alias("nbr_dist"))
    )
    rplan = plan_of(relax)
    # the state side entering the join must be pre-filtered on the
    # changed flag (the frontier); the filter detail block shows
    # "Condition : changed#N" feeding the join input
    import re

    check(
        "BFS relax joins the frontier, not the reached set",
        bool(re.search(r"Condition : .*changed#", rplan)),
        "changed-filter below the join",
    )
    check("BFS relax min has partial aggregation", "partial_min" in rplan)

    # 7. EdgeLog fold: one multi-path parquet scan + one aggregation —
    #    reading a base + delta chain must not join snapshot-by-snapshot
    import shutil
    import tempfile

    from plwordnet_spark.streaming.ingest import EdgeLog

    edgelog_dir = tempfile.mkdtemp(prefix="audit_edgelog_")
    log = EdgeLog(spark, edgelog_dir)
    e1 = spark.createDataFrame([(1, 2, 1, 1.0)], "src long, dst long, rel_id int, weight double")
    e2 = spark.createDataFrame([(1, 2, 1, 2.0)], "src long, dst long, rel_id int, weight double")
    log.append(e1, 0, {"batch_id": 0})
    log.append(e2, 1, {"batch_id": 1})
    lplan = plan_of(log.latest()[0])
    shutil.rmtree(edgelog_dir, ignore_errors=True)
    # exactly one numbered scan node ("(1) Scan parquet" detail header)
    # over the multi-path file index, no joins, map-side partial sum
    check(
        "EdgeLog fold = one scan + one aggregate (no per-snapshot joins)",
        lplan.count(") Scan parquet") == 1 and "Join" not in lplan
        and "partial_sum" in lplan,
    )

    # 9. binned range join: the point-in-interval join must plan as a
    #    hash EQUI-join on (key, _bin) — never the
    #    BroadcastNestedLoopJoin Spark produces for a raw temporal
    #    inequality predicate (O(points × intervals), driver-bounded)
    from plwordnet_spark.temporal import range_join_bins

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("pid"), "user_id", "ts"
    )
    iv = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("iid"), "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("hi"),
    )
    rplan2 = plan_of(
        range_join_bins(pts, iv, point_col="ts", lo_col="lo", hi_col="hi",
                        on="user_id", bin_width_sec=6 * 3600.0)
    )
    check(
        "range join plans as hash equi-join on (key, bin), no nested loop",
        "BroadcastNestedLoopJoin" not in rplan2
        and ("BroadcastHashJoin" in rplan2 or "SortMergeJoin" in rplan2
             or "ShuffledHashJoin" in rplan2),
    )

    # 14. stream-stream-shaped interval join (batch form) is an equi-join
    # on the key with the time range as a filter — not a nested loop
    from plwordnet_spark.streaming.joins import attributed_clicks

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    aplan = plan_of(attributed_clicks(events))
    check(
        "interval-join attribution plans as key equi-join, no nested loop",
        "BroadcastNestedLoopJoin" not in aplan
        and ("BroadcastHashJoin" in aplan or "SortMergeJoin" in aplan
             or "ShuffledHashJoin" in aplan),
    )

    # 15. stratified sampling is a pure scan-side filter: no exchange, no
    # join, and the scan reads only the projected columns
    from plwordnet_spark.textops.sampling import sample_per_stratum, stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    splan = plan_of(
        stratified_sample(docs, {"en": 0.3}, default_rate=0.5).select("doc_id", "lang")
    )
    check(
        "stratified sample is a zero-shuffle scan-side filter",
        "Exchange" not in splan
        and "Join" not in splan
        and "doc_id:bigint,lang:string" in splan.replace(" ", ""),
    )

    # 16. fixed-k stratum sample prunes inside the shuffle: the rank
    # filter runs as WindowGroupLimit below the full window sort
    kplan = plan_of(sample_per_stratum(docs, 10).select("doc_id", "lang"))
    check(
        "per-stratum top-k sample uses in-shuffle WindowGroupLimit",
        "WindowGroupLimit" in kplan,
    )

    # 17. C4 line dedup: the over-represented-line set joins back as a
    # broadcast anti-join (never shuffles the exploded corpus on line)
    from plwordnet_spark.textops.lines import line_dedup

    lplan = plan_of(line_dedup(docs.withColumn("text", F.col("text"))))
    check(
        "line-dedup anti-join broadcasts the bad-line set",
        "BroadcastHashJoin" in lplan and "LeftAnti" in lplan,
    )

    # 18. URL canonicalization is pure codegen string ops: no exchange,
    # no join, no UDF anywhere in the plan
    from plwordnet_spark.frontier import canonical_url_expr

    uplan = plan_of(
        docs.select(
            F.concat(F.lit("https://WWW.x.com/"), F.col("doc_id").cast("string")).alias("url")
        ).select(canonical_url_expr(F.col("url")).alias("c"))
    )
    check(
        "url canonicalization is zero-shuffle codegen (no Exchange/Join/UDF)",
        "Exchange" not in uplan
        and "Join" not in uplan
        and "PythonUDF" not in uplan,
    )

    # 19. k-means assignment never shuffles the corpus: the centroid
    # table reaches the scorer as a broadcast, and the only exchanges in
    # the training step are the centroid-sized grouped means
    from plwordnet_spark.vectors.ivf import kmeans_centroids, ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = kmeans_centroids(emb, n_centroids=4, max_iters=1)
    asg_plan = plan_of(ivf_assign(emb, cents).select("vec_id", "bucket"))
    check(
        "k-means assignment broadcasts centroids to the corpus",
        "BroadcastNestedLoopJoin" in asg_plan or "BroadcastExchange" in asg_plan,
    )

    # 20. bigram surprisal's pair build is map-side: the first Exchange
    # in the plan is the (doc, v, w) partial-agg shuffle, i.e. no
    # exchange appears below the first hashAggregate over the explode
    from plwordnet_spark.textops.ranking import bigram_surprisal

    bplan = plan_of(bigram_surprisal(docs))
    tree = bplan.split("\n\n")[0].splitlines()
    gen_idx = [i for i, ln in enumerate(tree) if "Generate" in ln]
    ok_fold = bool(gen_idx) and "partial_count" in bplan
    for gi in gen_idx:
        # walk up from each explode to its nearest aggregate: no
        # exchange may sit between them (the pair count folds map-side)
        for j in range(gi - 1, -1, -1):
            if "HashAggregate" in tree[j]:
                break
            if "Exchange" in tree[j]:
                ok_fold = False
                break
    check(
        "bigram pair build folds map-side directly above the explode",
        ok_fold,
        f"{len(gen_idx)} explode(s) in tree",
    )

    # 21. temporal-reachability relax step (one round, the exact
    # expressions of graph/temporal.py step()): the time guard
    # (t >= arr) filters candidates BEFORE the min-gather shuffle, and
    # the gather folds map-side. (The operator localCheckpoints its
    # state, so the returned plan is an ExistingRDD — audit the step
    # shape the loop runs, as the BFS/gather checks above do.)
    trel = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 7), (2, 3, 9)], "src long, dst long, t long"
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"), "t")
    tstate = spark.createDataFrame([(0, 0)], "u long, arr long")
    toffers = (
        trel.join(tstate, "u")
        .filter(F.col("t") >= F.col("arr"))
        .groupBy(F.col("v").alias("id"))
        .agg(F.min("t").alias("na"))
    )
    tplan = plan_of(toffers)
    agg_pos = tplan.find("HashAggregate")
    guard_pos = tplan.find(">= arr")
    check(
        "temporal relax filters the time guard below the min-gather",
        "partial_min" in tplan and 0 <= agg_pos < guard_pos,
        f"agg@{agg_pos} guard@{guard_pos}",
    )

    # 22. louvain vote gather (one round's nbr aggregate, the exact
    # expressions of graph/louvain.py): the (node, community) vote sum
    # folds map-side before the shuffle
    ladj = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "i long, j long, w double"
    )
    llabels = spark.createDataFrame([(0, 0), (1, 1), (2, 2)], "id long, label long")
    lnbr = (
        ladj.join(
            llabels.select(F.col("id").alias("j"), F.col("label").alias("c")),
            "j",
        )
        .groupBy(F.col("i").alias("id"), "c")
        .agg(F.sum("w").alias("kic"))
    )
    check(
        "louvain vote gather has map-side partial aggregation",
        "partial_sum" in plan_of(lnbr),
    )

    # 23. z-order write layout: range partitioning on the Morton value
    # with an in-partition sort — curve segments per file AND per row
    # group (storage/zorder.py write_zordered's pre-write frame)
    from plwordnet_spark.storage.zorder import z_value_expr

    zgrid = spark.range(1024).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    zframe = (
        zgrid.withColumn("_z", z_value_expr(["x", "y"], bits=5))
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
    )
    zplan = plan_of(zframe)
    check(
        "z-order layout plans range-partition + in-partition sort on the Morton value",
        "rangepartitioning(_z" in zplan.lower() and "Sort" in zplan,
    )

    # 24. count-min build: ONE explode + map-side partial count (the
    # d×w grid is the only shuffled state)
    from plwordnet_spark.sketches import cms_build

    cplan = plan_of(cms_build(spark.range(100).select(F.col("id").alias("k")), "k"))
    tree_c = cplan.split("\n\n")[0]
    check(
        "count-min build is one explode + partial-agg grid",
        tree_c.count("Generate") == 1 and "partial_count" in cplan,
    )

    print()
    print("=== sample plans ===")
    for title, p in (("pushdown", plan), ("gather", gplan)):
        print(f"\n--- {title} ---\n{p[:2000]}")

    spark.stop()
    return 0 if all(ok for _, ok in CHECKS) else 1


if __name__ == "__main__":
    raise SystemExit(main())
