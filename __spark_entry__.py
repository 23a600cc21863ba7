"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: synthesize the pages corpus, build the link
graph, run PageRank, return top-ranked pages.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2, runnable at any sf dir; oracle SQL is DuckDB-compatible
and column-name/type aligned (counts cast to BIGINT, float aggregates
rounded on both sides so order-insensitive value hashes match).

Every query has a DuckDB oracle (round 2): graph-iterative ops run a
FIXED iteration count on both sides — PageRank/label propagation get
unrolled per-iteration CTE chains, connected components a recursive
CTE, triangles a self-join — all over a small deterministic edge table
derived from TPC-H keys. Hash-seeded dedup ops (MinHash/SimHash) are
restructured as candidate-generation + exact-Jaccard verify so the
oracle can recompute the exact answer; LSH vector ops inline the
engine's seeded hyperplane constants into the generated SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Pages → link graph → PageRank → top pages (runs in ~1 min)."""
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph
    from plwordnet_spark.graph.pagerank import pagerank

    pages = generate_pages(spark, 1000, seed=42)
    tables = build_graph(pages)
    result = pagerank(spark, tables.edges, nodes=tables.nodes, tol=1e-6, max_iterations=25)
    return (
        result.state.join(tables.nodes.select("id", "url", "domain"), "id")
        .select("url", "domain", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "url")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# the shared derived edge table for SQL-oracle graph queries:
# deterministic small graph from TPC-H keys (same derivation both sides)
# ---------------------------------------------------------------------------

_EDGE_SQL_DERIVATION = """
    SELECT DISTINCT
        CAST(l_orderkey % 211 AS BIGINT) AS src,
        CAST(l_partkey % 211 AS BIGINT) AS dst
    FROM lineitem
    WHERE l_orderkey % 211 <> l_partkey % 211
"""


def _derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            (F.col("l_orderkey") % 211).cast("long").alias("src"),
            (F.col("l_partkey") % 211).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- scans / filters / projections (S1, S2, P1-P5) ---
        "q_scan_filter_project": lambda s, d: (
            _t(s, d, "lineitem")
            .filter(F.col("l_shipdate") < F.lit("1996-06-01").cast("timestamp"))
            .select("l_orderkey", "l_linenumber", "l_quantity")
        ),
        "q_point_lookup": lambda s, d: (
            _t(s, d, "orders")
            .filter(F.col("o_orderkey") == 7)
            .select("o_orderkey", "o_custkey", "o_orderstatus")
        ),
        "q_filter_isin": lambda s, d: (
            _t(s, d, "customer")
            .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select("c_custkey", "c_mktsegment")
        ),
        "q_filter_minlen_like": lambda s, d: (
            _t(s, d, "documents")
            .filter((F.length("text") >= 200) & F.col("lang").like("e%"))
            .select("doc_id", "lang", F.length("text").alias("text_len"))
        ),
        # --- aggregations (A1, A3, A6, A7) ---
        "q_group_count": lambda s, d: (
            _t(s, d, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        ),
        "q_group_agg_q1": lambda s, d: (
            _t(s, d, "lineitem")
            .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        ),
        "q_smooth_weight": lambda s, d: (
            _t(s, d, "lineitem")
            .groupBy("l_partkey")
            .agg((F.lit(1) + F.count(F.lit(1))).alias("smooth_weight"))
        ),
        "q_distinct_count": lambda s, d: (
            _t(s, d, "orders")
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n_customers"))
        ),
        # --- joins (J1, J4, J5, J6) ---
        "q_broadcast_join": lambda s, d: (
            _t(s, d, "customer")
            .join(F.broadcast(_t(s, d, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(_t(s, d, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            )
        ),
        "q_multi_join_revenue": lambda s, d: (
            _t(s, d, "orders")
            .join(_t(s, d, "customer"), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(_t(s, d, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation_name"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        ),
        "q_semi_join": lambda s, d: (
            _t(s, d, "customer")
            .join(_t(s, d, "orders").select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi")
            .select("c_custkey", "c_name")
        ),
        "q_anti_join": lambda s, d: (
            _t(s, d, "customer")
            .join(
                _t(s, d, "orders")
                .filter(F.col("o_totalprice") > 300000)
                .select(F.col("o_custkey").alias("c_custkey")),
                "c_custkey",
                "left_anti",
            )
            .select("c_custkey", "c_name")
        ),
        # --- windows (W1, W2, W3, A9) ---
        "q_window_topk_per_group": lambda s, d: (
            _t(s, d, "orders")
            .withColumn(
                "rank",
                F.row_number().over(
                    W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
                ),
            )
            .filter(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "rank")
        ),
        "q_first_per_group": lambda s, d: (
            _t(s, d, "orders")
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", "o_orderdate")
        ),
        "q_running_sum": lambda s, d: (
            _t(s, d, "orders")
            .filter(F.col("o_custkey") < 50)
            .withColumn(
                "running_total",
                F.round(
                    F.sum("o_totalprice").over(
                        W.partitionBy("o_custkey")
                        .orderBy("o_orderdate", "o_orderkey")
                        .rowsBetween(W.unboundedPreceding, W.currentRow)
                    ),
                    2,
                ),
            )
            .select("o_custkey", "o_orderkey", "running_total")
        ),
        "q_lag_delta": lambda s, d: (
            _t(s, d, "orders")
            .filter(F.col("o_custkey") < 50)
            .withColumn(
                "prev_price",
                F.lag("o_totalprice").over(
                    W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
                ),
            )
            .select(
                "o_custkey",
                "o_orderkey",
                F.round(
                    F.coalesce(F.col("o_totalprice") - F.col("prev_price"), F.lit(0.0)), 2
                ).alias("price_delta"),
            )
        ),
        "q_dense_ids": lambda s, d: (
            _t(s, d, "nation")
            .select(
                "n_name",
                (F.row_number().over(W.orderBy("n_name")) - 1).alias("aligned_id"),
            )
        ),
        # --- sorts / top-k (O1, O3) ---
        "q_global_topk": lambda s, d: (
            _t(s, d, "orders")
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .limit(10)
            .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        ),
        # --- set ops (U1, U3, U4) ---
        "q_union_tagged": lambda s, d: (
            _t(s, d, "customer")
            .filter(F.col("c_acctbal") > 9000)
            .select(F.col("c_custkey").alias("key"), F.lit("rich").alias("tag"))
            .unionByName(
                _t(s, d, "customer")
                .filter(F.col("c_acctbal") < -500)
                .select(F.col("c_custkey").alias("key"), F.lit("debt").alias("tag"))
            )
        ),
        "q_distinct_pairs": lambda s, d: (
            _t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()
        ),
        "q_except": lambda s, d: (
            _t(s, d, "part")
            .filter(F.col("p_size") > 25)
            .select(F.col("p_partkey").alias("key"))
            .exceptAll(
                _t(s, d, "part")
                .filter(F.col("p_retailprice") > 950)
                .select(F.col("p_partkey").alias("key"))
            )
        ),
        "q_rollup": lambda s, d: (
            _t(s, d, "lineitem")
            .rollup("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            )
            .select(
                F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
                "n",
                "sum_qty",
            )
        ),
        "q_cube": lambda s, d: (
            _t(s, d, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
                "n",
            )
        ),
        # --- explode / text ops (B5, T-family, dedup, quality) ---
        "q_char_stats": lambda s, d: (
            _t(s, d, "documents")
            .select(
                "doc_id",
                F.length("text").alias("n_chars"),
                F.round(
                    (
                        F.length("text")
                        - F.length(F.regexp_replace(F.col("text"), r"[^\p{L}\p{N}\s]", ""))
                    )
                    / F.length("text"),
                    6,
                ).alias("punct_ratio"),
            )
            .filter(F.length("text") > 0)
        ),
        "q_sentence_pairs": lambda s, d: _q_sentence_pairs(s, d),
        "q_word_explode_count": lambda s, d: (
            _t(s, d, "documents")
            .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
            .filter(F.length("word") >= 5)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 3)
        ),
        "q_exact_dedup_keys": lambda s, d: (
            _t(s, d, "documents")
            .groupBy(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias("norm")
            )
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        ),
        "q_token_counts": lambda s, d: (
            _t(s, d, "documents")
            .select(
                "doc_id",
                F.size(
                    F.filter(
                        F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0
                    )
                ).cast("long").alias("n_tokens"),
            )
        ),
        "q_pmi_bigrams": lambda s, d: _q_pmi_bigrams(s, d),
        "q_tfidf_topk": lambda s, d: _q_tfidf_topk(s, d),
        "q_bm25_topk": lambda s, d: _q_bm25_topk(s, d),
        "q_unigram_surprisal": lambda s, d: _q_unigram_surprisal(s, d),
        "q_bigram_surprisal": lambda s, d: _q_bigram_surprisal(s, d),
        "q_postings": lambda s, d: _q_postings(s, d),
        "q_events_hourly": lambda s, d: (
            _t(s, d, "events")
            .groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        ),
        # --- vectors (A4 pooling, W1 top-k) ---
        "q_weighted_mean_pool": lambda s, d: _q_weighted_mean_pool(s, d),
        "q_mean_pool_by_label": lambda s, d: (
            _t(s, d, "embeddings")
            .select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"))
            .groupBy("label", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mean_x"))
        ),
        "q_cosine_topk": lambda s, d: _q_cosine_topk(s, d),
        "q_ivf_topk": lambda s, d: _q_ivf_topk(s, d),
        "q_kmeans": lambda s, d: _q_kmeans(s, d),
        "q_semdedup": lambda s, d: _q_semdedup(s, d),
        # --- relation expansion (J2/J3 ★) with SQL oracles ---
        "q_group_expansion": lambda s, d: _q_group_expansion(s, d),
        "q_synonymy_cliques": lambda s, d: _q_synonymy_cliques(s, d),
        # --- graph with SQL oracles ---
        "q_triangle_count": lambda s, d: _q_triangle_count(s, d),
        "q_clustering_coeff": lambda s, d: _q_clustering_coeff(s, d),
        "q_degree_histogram": lambda s, d: _q_degree_histogram(s, d),
        "q_connected_components": lambda s, d: _q_connected_components(s, d),
        "q_reciprocity": lambda s, d: _q_reciprocity(s, d),
        "q_assortativity": lambda s, d: _q_assortativity(s, d),
        "q_conductance": lambda s, d: _q_conductance(s, d),
        "q_rich_club": lambda s, d: _q_rich_club(s, d),
        "q_avg_nbr_degree": lambda s, d: _q_avg_nbr_degree(s, d),
        "q_scc": lambda s, d: _q_scc(s, d),
        "q_topo_levels": lambda s, d: _q_topo_levels(s, d),
        "q_triad_census": lambda s, d: _q_triad_census(s, d),
        "q_wl_labels": lambda s, d: _q_wl_labels(s, d),
        "q_host_boilerplate": lambda s, d: _q_host_boilerplate(s, d),
        "q_strip_boilerplate": lambda s, d: _q_strip_boilerplate(s, d),
        "q_eccentricity": lambda s, d: _q_eccentricity(s, d),
        "q_cms_counts": lambda s, d: _q_cms_counts(s, d),
        "q_bowtie": lambda s, d: _q_bowtie(s, d),
        # --- graph rows-only (iterative; golden-tested in tests/) ---
        "q_pagerank_top": lambda s, d: _q_pagerank_top(s, d),
        "q_spam_mass": lambda s, d: _q_spam_mass(s, d),
        "q_redirect_resolve": lambda s, d: _q_redirect_resolve(s, d),
        "q_anchor_topk": lambda s, d: _q_anchor_topk(s, d),
        "q_cocitation": lambda s, d: _q_cocitation(s, d),
        "q_bib_coupling": lambda s, d: _q_bib_coupling(s, d),
        "q_modularity": lambda s, d: _q_modularity(s, d),
        "q_cohort_retention": lambda s, d: _q_cohort_retention(s, d),
        "q_salsa": lambda s, d: _q_salsa(s, d),
        "q_backlink_diversity": lambda s, d: _q_backlink_diversity(s, d),
        "q_attributed_clicks": lambda s, d: _q_attributed_clicks(s, d),
        "q_eigenvector": lambda s, d: _q_eigenvector(s, d),
        "q_json_props": lambda s, d: _q_json_props(s, d),
        "q_url_features": lambda s, d: _q_url_features(s, d),
        "q_katz": lambda s, d: _q_katz(s, d),
        "q_ktruss": lambda s, d: _q_ktruss(s, d),
        "q_pagerank_weighted": lambda s, d: _q_pagerank_weighted(s, d),
        "q_host_pagerank": lambda s, d: _q_host_pagerank(s, d),
        "q_pagerank_personalized": lambda s, d: _q_pagerank_personalized(s, d),
        "q_label_propagation": lambda s, d: _q_label_propagation(s, d),
        "q_anf_hll": lambda s, d: _q_anf_hll(s, d),
        "q_minhash_dup_pairs": lambda s, d: _q_minhash_pairs(s, d),
        "q_simhash_near_dup": lambda s, d: _q_simhash(s, d),
        "q_embedding_near_dup": lambda s, d: _q_embedding_near_dup(s, d),
        "q_lsh_topk": lambda s, d: _q_lsh_topk(s, d),
        # --- aggregation / streaming-analog round-2 additions ---
        "q_percentiles": lambda s, d: (
            _t(s, d, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.round(F.percentile("l_quantity", 0.25), 4).alias("p25"),
                F.round(F.percentile("l_quantity", 0.5), 4).alias("p50"),
                F.round(F.percentile("l_quantity", 0.9), 4).alias("p90"),
            )
        ),
        "q_sessionize": lambda s, d: _q_sessionize(s, d),
        # --- graph round-2 additions ---
        "q_bfs_distances": lambda s, d: _q_bfs_distances(s, d),
        "q_harmonic_centrality": lambda s, d: _q_harmonic_centrality(s, d),
        "q_host_graph": lambda s, d: _q_host_graph(s, d),
        "q_intra_host_ratio": lambda s, d: _q_intra_host_ratio(s, d),
        "q_closeness_centrality": lambda s, d: _q_closeness_centrality(s, d),
        "q_hits": lambda s, d: _q_hits(s, d),
        "q_kcore": lambda s, d: _q_kcore(s, d),
        "q_sssp": lambda s, d: _q_sssp(s, d),
        # --- textops / vectors round-2 additions ---
        "q_ngram_jaccard": lambda s, d: _q_ngram_jaccard(s, d),
        "q_language_id": lambda s, d: _q_language_id(s, d),
        "q_quality_score": lambda s, d: _q_quality_score(s, d),
        "q_impute_missing": lambda s, d: _q_impute_missing(s, d),
        # --- round-3 additions: multimodal + approximate profiling ---
        "q_media_features": lambda s, d: _q_media_features(s, d),
        "q_doc_fingerprint": lambda s, d: _q_doc_fingerprint(s, d),
        "q_sssp_delta_stepping": lambda s, d: _q_sssp_delta(s, d),
        "q_approx_distinct": lambda s, d: _q_approx_distinct(s, d),
        "q_approx_percentiles": lambda s, d: _q_approx_percentiles(s, d),
        "q_token_counts_bpe": lambda s, d: _q_token_counts_bpe(s, d),
        "q_approx_topk": lambda s, d: _q_approx_topk(s, d),
        "q_landmark_distances": lambda s, d: _q_landmark_distances(s, d),
        # --- round-4 additions: resume parity witness ---
        "q_sssp_delta_resume": lambda s, d: _q_sssp_delta_resume(s, d),
        "q_adamic_adar": lambda s, d: _q_adamic_adar(s, d),
        "q_common_neighbors": lambda s, d: _q_common_neighbors(s, d),
        "q_resource_allocation": lambda s, d: _q_resource_allocation(s, d),
        "q_jaccard_linkpred": lambda s, d: _q_jaccard_linkpred(s, d),
        "q_asof_join": lambda s, d: _q_asof_join(s, d),
        "q_range_join": lambda s, d: _q_range_join(s, d),
        "q_random_walks": lambda s, d: _q_random_walks(s, d),
        "q_node2vec_walks": lambda s, d: _q_node2vec_walks(s, d),
        "q_louvain": lambda s, d: _q_louvain(s, d),
        "q_contract_graph": lambda s, d: _q_contract_graph(s, d),
        "q_seed_spread": lambda s, d: _q_seed_spread(s, d),
        "q_bfs_tree": lambda s, d: _q_bfs_tree(s, d),
        "q_coloring": lambda s, d: _q_coloring(s, d),
        "q_incremental_cc": lambda s, d: _q_incremental_cc(s, d),
        "q_graph_diff": lambda s, d: _q_graph_diff(s, d),
        "q_attack_curve": lambda s, d: _q_attack_curve(s, d),
        "q_failure_curve": lambda s, d: _q_failure_curve(s, d),
        "q_ewma": lambda s, d: _q_ewma(s, d),
        "q_edit_pairs": lambda s, d: _q_edit_pairs(s, d),
        "q_path_rollup": lambda s, d: _q_path_rollup(s, d),
        "q_langid_confusion": lambda s, d: _q_langid_confusion(s, d),
        "q_vocab_richness": lambda s, d: _q_vocab_richness(s, d),
        "q_zipf_vocab": lambda s, d: _q_zipf_vocab(s, d),
        "q_anomaly_days": lambda s, d: _q_anomaly_days(s, d),
        "q_skipgram": lambda s, d: _q_skipgram(s, d),
        "q_ppr_batch": lambda s, d: _q_ppr_batch(s, d),
        # --- round-5 widening: behavior sequences, distribution stats, OLAP ---
        "q_betweenness": lambda s, d: _q_betweenness(s, d),
        "q_mis": lambda s, d: _q_mis(s, d),
        "q_matching": lambda s, d: _q_matching(s, d),
        "q_stratified_sample": lambda s, d: _q_stratified_sample(s, d),
        "q_line_dedup": lambda s, d: _q_line_dedup(s, d),
        "q_contamination": lambda s, d: _q_contamination(s, d),
        "q_repetition": lambda s, d: _q_repetition(s, d),
        "q_containment": lambda s, d: _q_containment(s, d),
        "q_cooccurrence": lambda s, d: _q_cooccurrence(s, d),
        "q_sample_per_stratum": lambda s, d: _q_sample_per_stratum(s, d),
        "q_weighted_sample": lambda s, d: _q_weighted_sample(s, d),
        "q_hop_histogram": lambda s, d: _q_hop_histogram(s, d),
        "q_msf": lambda s, d: _q_msf(s, d),
        "q_vertex_cover": lambda s, d: _q_vertex_cover(s, d),
        "q_crawl_schedule": lambda s, d: _q_crawl_schedule(s, d),
        "q_trending": lambda s, d: _q_trending(s, d),
        "q_temporal_reach": lambda s, d: _q_temporal_reach(s, d),
        "q_url_canonical": lambda s, d: _q_url_canonical(s, d),
        "q_mixture_weights": lambda s, d: _q_mixture_weights(s, d),
        "q_funnel_steps": lambda s, d: _q_funnel_steps(s, d),
        "q_markov_transitions": lambda s, d: _q_markov_transitions(s, d),
        "q_session_paths": lambda s, d: _q_session_paths(s, d),
        "q_powerlaw_alpha": lambda s, d: _q_powerlaw_alpha(s, d),
        "q_gini_indegree": lambda s, d: _q_gini_indegree(s, d),
        "q_source_lang_entropy": lambda s, d: (
            _t(s, d, "documents")
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("p", F.col("n") / F.sum("n").over(W.partitionBy("source")))
            .groupBy("source")
            .agg(
                F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
                F.sum("n").cast("bigint").alias("n_docs"),
            )
        ),
        "q_grouping_sets": lambda s, d: (
            _t(s, d, "lineitem")
            .groupingSets(
                [[F.col("l_returnflag")], [F.col("l_linestatus")]],
                F.col("l_returnflag"),
                F.col("l_linestatus"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            )
            .select(
                F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
                "n",
                "sum_price",
            )
        ),
        "q_pivot_event_values": lambda s, d: _q_pivot_event_values(s, d),
        "q_ntile_cume": lambda s, d: (
            _t(s, d, "orders")
            .filter(F.col("o_custkey") < 100)
            .select(
                "o_orderkey",
                F.ntile(4)
                .over(W.orderBy("o_totalprice", "o_orderkey"))
                .alias("quartile"),
                F.round(
                    F.percent_rank().over(W.orderBy("o_totalprice", "o_orderkey")), 6
                ).alias("pct_rank"),
                F.round(
                    F.cume_dist().over(W.orderBy("o_totalprice", "o_orderkey")), 6
                ).alias("cume"),
            )
        ),
        "q_moments": lambda s, d: _q_moments(s, d),
        "q_zorder": lambda s, d: _q_zorder(s, d),
        "q_corr_stats": lambda s, d: (
            _t(s, d, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                    "corr_qty_price"
                ),
                F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                    "covar_qty_price"
                ),
                F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
            )
        ),
    }


_PPR_SEEDS = (3, 59, 140)


def _q_ppr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K personalized-PageRank vectors in one composite loop
    (graph/ppr.py — the landmark trick applied to PPR). Fixed-k run on
    the mod-211 graph; sparse never-reached (id, seed) rows are
    densified to their exact 0.0 before hashing so the oracle's dense
    anchor matches row-for-row."""
    from plwordnet_spark.graph.ppr import ppr_batch

    # cached: ppr_batch derives ids/out-weights/scatter from it and the
    # densification grid re-reads it — uncached, each reference would
    # re-run the lineitem mod-211 distinct scan
    edges = _derived_edges(spark, sf_dir).cache()
    res = ppr_batch(
        spark, edges, seeds=list(_PPR_SEEDS), tol=0.0,
        max_iterations=_PR_ITERS, weighted=False,
    )
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds_df = spark.createDataFrame([(int(s),) for s in _PPR_SEEDS], "seed long")
    return (
        ids.crossJoin(seeds_df)
        .join(res.state, ["id", "seed"], "left")
        .select(
            "id", "seed",
            F.round(F.coalesce(F.col("rank"), F.lit(0.0)), 8).alias("rank"),
        )
    )


def _q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor counts (graph/linkpred.py) — the integer twin of
    q_adamic_adar's two-path join; min_common=2 keeps the oracle output
    a step away from the scored query rather than a pure subset."""
    from plwordnet_spark.graph.linkpred import common_neighbors

    edges = _derived_edges(spark, sf_dir)
    return common_neighbors(edges, max_degree=10_000, min_common=2)


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction scores over the mod-211 graph
    (graph/linkpred.py): two-path join on the shared neighbor +
    1/ln(deg) sum, replayed verbatim by the DuckDB oracle. top_k is
    NOT applied here — near-tied float scores at the rank boundary
    would make the cut engine-dependent; the full scored pair set is
    order-independent."""
    from plwordnet_spark.graph.linkpred import adamic_adar

    edges = _derived_edges(spark, sf_dir)
    # max_degree pinned EXPLICITLY to the oracle's hard-coded 10000 —
    # the library default is a tunable knob; retuning it must not
    # silently diverge this contract query from its SQL
    return adamic_adar(edges, max_degree=10_000).select(
        "a", "b", F.round("score", 6).alias("score")
    )


def _q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted random walks (graph/walks.py — the
    DeepWalk corpus primitive): 2 walks × 6 hops from every node of the
    weighted mod-211 graph. The mod-p congruential sampler makes the
    node SEQUENCES (not just their distribution) engine-independent, so
    the DuckDB oracle replays the identical walks with a recursive CTE
    over the same per-src CDF."""
    from plwordnet_spark.graph.walks import random_walks

    edges = _derived_weighted_edges(spark, sf_dir)
    res = random_walks(spark, edges, walk_length=6, walks_per_node=2, seed=5)
    return res.select(
        "start",
        F.col("walk").cast("long").alias("walk"),
        F.col("step").cast("long").alias("step"),
        "node",
    )


def _q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec walks (graph/walks.py node2vec_walks,
    p=2, q=4 — anti-backtrack, BFS-leaning): the biased-sampling
    upgrade of q_random_walks. Same congruential sampler, so the DuckDB
    oracle replays the exact SEQUENCES through the precomputed
    second-order CDF (p, q powers of two keep the bias arithmetic
    IEEE-exact)."""
    from plwordnet_spark.graph.walks import node2vec_walks

    edges = _derived_weighted_edges(spark, sf_dir)
    res = node2vec_walks(
        spark, edges, walk_length=5, p=2.0, q=4.0, walks_per_node=2, seed=7
    )
    return res.select(
        "start",
        F.col("walk").cast("long").alias("walk"),
        F.col("step").cast("long").alias("step"),
        "node",
    )


def _node2vec_oracle_sql() -> str:
    """Recursive replay of the p=2/q=4 biased walks: first-order CDF
    under sentinel prev=-1, second-order CDF over (prev, cur, next)
    wedges (return /2, prev-neighbor ×1, else /4), one unified join per
    recursion step. seed=7 -> (7*104729 + 12345) % 1000003 = 745448."""
    u_sql = """CAST((((
                        (w.start % 1000003) * 743177
                        + (w.walk * 15485863) % 1000003
                        + ((w.step + 1) * 499979) % 1000003
                        + 745448
                      ) % 1000003) * 499979 + 12345) % 1000003 AS DOUBLE)
                      / 1000003"""
    return f"""
        WITH RECURSIVE edges AS MATERIALIZED (
            {_WEIGHTED_EDGE_SQL_DERIVATION}
        ),
        cdf1 AS MATERIALIZED (
            SELECT CAST(-1 AS BIGINT) AS prev, src, dst,
                   (SUM(w) OVER (PARTITION BY src ORDER BY dst) - w)
                     / SUM(w) OVER (PARTITION BY src) AS cdf_lo,
                   SUM(w) OVER (PARTITION BY src ORDER BY dst)
                     / SUM(w) OVER (PARTITION BY src) AS cdf_hi
            FROM edges
        ),
        wedge AS MATERIALIZED (
            SELECT a.src AS prev, a.dst AS src, b.dst AS dst,
                   CASE WHEN b.dst = a.src THEN b.w / 2.0
                        WHEN c.src IS NOT NULL THEN b.w
                        ELSE b.w / 4.0 END AS w
            FROM edges a
            JOIN edges b ON b.src = a.dst
            LEFT JOIN edges c ON c.src = a.src AND c.dst = b.dst
        ),
        cdf2 AS MATERIALIZED (
            SELECT prev, src, dst,
                   (SUM(w) OVER (PARTITION BY prev, src ORDER BY dst) - w)
                     / SUM(w) OVER (PARTITION BY prev, src) AS cdf_lo,
                   SUM(w) OVER (PARTITION BY prev, src ORDER BY dst)
                     / SUM(w) OVER (PARTITION BY prev, src) AS cdf_hi
            FROM wedge
        ),
        cdfall AS MATERIALIZED (
            SELECT * FROM cdf1 UNION ALL SELECT * FROM cdf2
        ),
        starts AS (SELECT DISTINCT src AS start FROM edges),
        walk(start, walk, step, prev, node) AS (
            SELECT start, k.walk, CAST(0 AS BIGINT), CAST(-1 AS BIGINT), start
            FROM starts, (SELECT UNNEST(range(2)) AS walk) k
            UNION ALL
            SELECT w.start, w.walk, w.step + 1, w.node, c.dst
            FROM walk w
            JOIN cdfall c ON c.prev = w.prev AND c.src = w.node
            WHERE w.step < 5
              AND c.cdf_lo <= {u_sql}
              AND {u_sql} < c.cdf_hi
        )
        SELECT start, walk, step, node FROM walk
    """


_LOUVAIN_ROUNDS = 5


def _q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous Louvain phase-1 (graph/louvain.py): 5 parity-
    alternating modularity-gain move rounds on the weighted mod-211
    graph. Integer multiplicity weights keep every aggregate exact, so
    the oracle replays the rounds bit-for-bit — the round-replay
    pattern (q_mis/q_matching/q_msf) applied to community detection."""
    from plwordnet_spark.graph.louvain import louvain_move_phase

    edges = _derived_weighted_edges(spark, sf_dir)
    return louvain_move_phase(
        spark, edges, rounds=_LOUVAIN_ROUNDS, weight_col="weight"
    )


def _louvain_oracle_sql(
    rounds: int = _LOUVAIN_ROUNDS, final: str | None = None
) -> str:
    """Unrolled synchronous-Louvain replay: per round, community totals
    + per-(node, neighbor-community) weights + the isolated-move gain
    argmax (score DESC, c ASC), adopted by the round's id-parity half.
    ``final`` overrides the closing SELECT (the chain ends at l{rounds},
    with ``und`` the collapsed undirected edges) — q_contract_graph
    reuses it for the phase-2 supergraph."""
    parts = [
        f"""WITH und AS MATERIALIZED (
            SELECT a, b, CAST(SUM(w) AS DOUBLE) AS w FROM (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, w
                FROM ({_WEIGHTED_EDGE_SQL_DERIVATION})
            ) GROUP BY a, b
        ),
        adj AS MATERIALIZED (
            SELECT a AS i, b AS j, w FROM und
            UNION ALL
            SELECT b AS i, a AS j, w FROM und
        ),
        deg AS MATERIALIZED (SELECT i AS id, SUM(w) AS k FROM adj GROUP BY i),
        m2 AS (SELECT SUM(k) AS v FROM deg),
        l0 AS MATERIALIZED (SELECT id, id AS label FROM deg)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
        tot{r} AS MATERIALIZED (
            SELECT l.label AS c, SUM(d.k) AS t
            FROM l{p} l JOIN deg d USING (id) GROUP BY l.label
        ),
        nbr{r} AS MATERIALIZED (
            SELECT a.i AS id, lj.label AS c, SUM(a.w) AS kic
            FROM adj a JOIN l{p} lj ON lj.id = a.j GROUP BY a.i, lj.label
        ),
        cand{r} AS MATERIALIZED (
            SELECT id, c, SUM(kic) AS kic FROM (
                SELECT id, c, kic FROM nbr{r}
                UNION ALL
                SELECT id, label AS c, 0.0 FROM l{p}
            ) GROUP BY id, c
        ),
        sc{r} AS MATERIALIZED (
            SELECT cd.id, cd.c,
                   cd.kic - d.k * (t.t - CASE WHEN cd.c = l.label
                                              THEN d.k ELSE 0.0 END)
                          / (SELECT v FROM m2) AS score
            FROM cand{r} cd
            JOIN l{p} l ON l.id = cd.id
            JOIN deg d ON d.id = cd.id
            JOIN tot{r} t ON t.c = cd.c
        ),
        pk{r} AS MATERIALIZED (
            SELECT id, c FROM (
                SELECT id, c, row_number() OVER (
                    PARTITION BY id ORDER BY score DESC, c) AS rn
                FROM sc{r}
            ) WHERE rn = 1
        ),
        l{r} AS MATERIALIZED (
            SELECT l.id,
                   CASE WHEN l.id % 2 = {(r - 1) % 2} THEN p.c
                        ELSE l.label END AS label
            FROM l{p} l JOIN pk{r} p ON p.id = l.id
        )"""
        )
    if final is None:
        final = f"\n        SELECT id, label FROM l{rounds}"
    parts.append(final)
    return "".join(parts)


_SEED_SPREAD = ((0, 10), (50, 20), (100, 30))
_SEED_SPREAD_ROUNDS = 4


def _q_seed_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded watershed labeling (graph/seedprop.py seed_label_spread):
    3 clamped seed labels flood the weighted mod-211 graph for 4
    rounds, weighted-majority at first touch, frozen after — the
    multiclass TrustRank. Integer weights keep votes exact, so the
    oracle replays the rounds verbatim."""
    from plwordnet_spark.graph.seedprop import seed_label_spread

    edges = _derived_weighted_edges(spark, sf_dir)
    seeds = spark.createDataFrame(list(_SEED_SPREAD), "id long, label long")
    return seed_label_spread(
        spark, edges, seeds, rounds=_SEED_SPREAD_ROUNDS, weight_col="weight"
    )


def _seed_spread_oracle_sql(rounds: int = _SEED_SPREAD_ROUNDS) -> str:
    vals = ", ".join(f"({i}, {l})" for i, l in _SEED_SPREAD)
    parts = [
        f"""WITH dedges AS MATERIALIZED (
            {_WEIGHTED_EDGE_SQL_DERIVATION}
        ),
        adj AS MATERIALIZED (
            SELECT j, i, SUM(w) AS w FROM (
                SELECT src AS j, dst AS i, w FROM dedges
                UNION ALL
                SELECT dst AS j, src AS i, w FROM dedges
            ) GROUP BY j, i
        ),
        nodes AS (SELECT DISTINCT i AS id FROM adj),
        l0 AS MATERIALIZED (
            SELECT s.id, s.label
            FROM (SELECT * FROM (VALUES {vals}) AS t(id, label)) s
            JOIN nodes USING (id)
        )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
        v{r} AS MATERIALIZED (
            SELECT a.i AS id, l.label AS l, SUM(a.w) AS v
            FROM adj a JOIN l{p} l ON l.id = a.j GROUP BY a.i, l.label
        ),
        p{r} AS MATERIALIZED (
            SELECT id, l AS label FROM (
                SELECT id, l, row_number() OVER (
                    PARTITION BY id ORDER BY v DESC, l) AS rn
                FROM v{r}
            ) WHERE rn = 1
        ),
        l{r} AS MATERIALIZED (
            SELECT id, label FROM l{p}
            UNION ALL
            SELECT p.id, p.label FROM p{r} p
            WHERE p.id NOT IN (SELECT id FROM l{p})
        )"""
        )
    parts.append(f"\n        SELECT id, label FROM l{rounds}")
    return "".join(parts)


def _q_contract_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain phase 2 (graph/louvain.py contract_graph): collapse the
    phase-1 communities into the weighted supergraph — intra-community
    mass on self-loop rows, inter-community weights summed. Oracle =
    the phase-1 replay chain + the same relabel-and-collapse SQL."""
    from plwordnet_spark.graph.louvain import contract_graph, louvain_move_phase

    edges = _derived_weighted_edges(spark, sf_dir)
    labels = louvain_move_phase(
        spark, edges, rounds=_LOUVAIN_ROUNDS, weight_col="weight"
    )
    return contract_graph(edges, labels, weight_col="weight").select(
        "a", "b", F.col("w").cast("long").alias("w")
    )


def _q_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the deterministic walk corpus
    (graph.walks.skipgram_pairs over the q_random_walks walks,
    window=2): the DeepWalk/node2vec data-prep step. The oracle
    replays the identical walks (shared recursive CTE) and pairs
    positions at distance 1..2 in both orientations."""
    from plwordnet_spark.graph.walks import random_walks, skipgram_pairs

    edges = _derived_weighted_edges(spark, sf_dir)
    walks = random_walks(spark, edges, walk_length=6, walks_per_node=2, seed=5)
    return skipgram_pairs(walks, window=2)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (plwordnet_spark.temporal.asof_join): each
    click event picks the latest at-or-before view event of the same
    user — tagged-union + last-non-null window, ONE shuffle, vs the
    oracle's native DuckDB ASOF LEFT JOIN. The view side is
    pre-aggregated to one row per (user_id, ts) (max event_id) so tie
    resolution is engine-independent."""
    from plwordnet_spark.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("event_id").alias("view_id"))
    )
    return asof_join(
        clicks, views, on="user_id", left_ts="ts", right_ts="vts"
    ).select("event_id", "user_id", "ts", "vts_r", "view_id_r")


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (plwordnet_spark.temporal.
    range_join_bins): click events falling inside any same-user 6-hour
    error window, binned onto the 6-hour grid so the inequality join
    becomes an equi-join + containment filter (Spark would otherwise
    plan a nested-loop). Oracle: the plain inequality join in DuckDB."""
    from plwordnet_spark.temporal import range_join_bins

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("hi"),
    )
    return range_join_bins(
        clicks, errors, point_col="ts", lo_col="lo", hi_col="hi",
        on="user_id", bin_width_sec=6 * 3600.0,
    ).select("click_id", "error_id", "user_id")


def _q_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction index over the mod-211 graph
    (graph/linkpred.py): the Adamic-Adar twin with the harsher 1/deg
    hub penalty; the DuckDB oracle replays the same two-path join with
    SUM(1.0/deg). max_degree pinned to the oracle's 10000."""
    from plwordnet_spark.graph.linkpred import resource_allocation

    edges = _derived_edges(spark, sf_dir)
    return resource_allocation(edges, max_degree=10_000).select(
        "a", "b", F.round("score", 6).alias("score")
    )


def _q_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link-prediction coefficient over the mod-211 graph
    (graph/linkpred.py): common/(deg_a+deg_b-common) with the capped
    two-path intersection and true full degrees — replayed verbatim in
    SQL. min_common=2 keeps the pair universe the oracle materializes
    bounded (same choice as q_common_neighbors)."""
    from plwordnet_spark.graph.linkpred import jaccard_coefficient

    edges = _derived_edges(spark, sf_dir)
    return jaccard_coefficient(edges, max_degree=10_000, min_common=2).select(
        "a", "b", F.round("score", 6).alias("score")
    )


def _q_sssp_delta_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-stepping SSSP killed after 2 rounds and RESUMED from its
    durable SnapshotStore checkpoint (bfs.py round-4 contract). The
    resumed run must land on the same fixpoint as an uninterrupted one,
    so the oracle is the same unrolled-relaxation SQL as q_sssp. The
    final state is pinned in memory before the checkpoint dir is
    removed (the driver collects after this callable returns)."""
    import shutil
    import tempfile

    from plwordnet_spark.graph.bfs import delta_stepping_sssp

    edges = _derived_weighted_edges(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="plwn_q_resume_")
    try:
        delta_stepping_sssp(
            spark, edges, sources=[0], directed=True, delta=2.0,
            max_rounds=2, checkpoint_dir=ckpt, checkpoint_interval=1,
        )
        res = delta_stepping_sssp(
            spark, edges, sources=[0], directed=True, delta=2.0,
            checkpoint_dir=ckpt, checkpoint_interval=1, resume=True,
        )
        out = res.state.select(
            "id", F.col("dist").cast("long").alias("dist")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def _q_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K BFS floods as one composite-key frontier loop (distance-oracle
    building block); oracle is a recursive CTE seeded with all K
    landmarks. Reached pairs only (sparse state)."""
    from plwordnet_spark.graph.bfs import landmark_distances

    edges = _derived_edges(spark, sf_dir)
    res = landmark_distances(spark, edges, landmarks=[0, 7, 13])
    return res.state


def _q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via approx_top_k (frequent-items sketch) with the
    self-certifying contract shape: each sketch-reported item joins its
    exact count (hash-compared) plus a flag asserting the sketch count
    equaled the exact one — over a low-cardinality column the sketch
    tracks every item exactly, so the flag must hold."""
    docs = _t(spark, sf_dir, "documents")
    sketch = docs.selectExpr("inline(approx_top_k(lang, 3))")  # (item, count)
    exact = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        sketch.join(exact, sketch["item"] == exact["lang"])
        .select(
            "lang",
            "exact_n",
            (F.col("count") == F.col("exact_n")).cast("int").alias("sketch_exact"),
        )
    )


def _q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts (word pieces + standalone
    punctuation, regex \\w+|[^\\w\\s]) — the token-budget estimate a
    training-data pipeline runs corpus-wide."""
    from plwordnet_spark.textops.quality import bpe_ish_token_count_expr

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        bpe_ish_token_count_expr(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def _q_sentence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document sentence cross product (B5 shape) on a doc subset.
    Split regex kept RE2-compatible so the DuckDB oracle matches."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    # the synthetic docs have no sentence punctuation; chunk on a frequent
    # token so the within-row cross product is exercised for real
    arr = F.filter(
        F.split(F.col("text"), " the "), lambda sentence: F.length(sentence) >= 10
    )
    return (
        docs.select("doc_id", arr.alias("_arr"))
        .withColumn("sentence1", F.explode("_arr"))
        .withColumn("sentence2", F.explode("_arr"))
        .select("doc_id", "sentence1", "sentence2")
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.vectors.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return cosine_topk(emb, qs, k=10).select(
        "query_id", "vec_id", F.round("sim", 4).alias("sim"), "rank"
    )


def _q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored adjacent bigrams (textops/collocations.py) over the
    documents corpus — the MWE-discovery signal behind the reference's
    multiword lexical units."""
    from plwordnet_spark.textops.collocations import pmi_bigrams

    return pmi_bigrams(_t(spark, sf_dir, "documents"), min_count=5)


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF top-3 terms per document (textops/tfidf.py):
    the 'what is this page about' primitive feeding quality filters."""
    from plwordnet_spark.textops.tfidf import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed bag-of-terms query
    (textops/ranking.py) — the ranking half of an anchor-text search
    index; the reference ranks related lexical units by text relevance
    (plwordnet_ml embedder ranking)."""
    from plwordnet_spark.textops.ranking import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["fast", "scan", "merge"], k=20
    )


def _q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality gate: per-doc mean unigram
    surprisal (textops/ranking.py); returns the 50 most 'surprising'
    documents — the tail a perplexity filter would inspect."""
    from plwordnet_spark.textops.ranking import unigram_surprisal

    return (
        unigram_surprisal(_t(spark, sf_dir, "documents"))
        .orderBy(F.desc("surprisal"), F.asc("doc_id"))
        .limit(50)
    )


def _q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-order-sensitive corpus-LM gate: per-doc mean conditional
    bigram surprisal (textops/ranking.py bigram_surprisal); returns the
    50 most 'surprising' documents — shuffled/template-stitched text
    that passes the unigram gate surfaces here."""
    from plwordnet_spark.textops.ranking import bigram_surprisal

    return (
        bigram_surprisal(_t(spark, sf_dir, "documents"))
        .orderBy(F.desc("surprisal"), F.asc("doc_id"))
        .limit(50)
    )


def _q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (textops/ranking.py): phrase (bigram)
    posting lists for grams with 5 <= df <= 20% of docs, doc-ids
    ordered ascending and comma-serialized so the value hash is
    engine-portable."""
    from plwordnet_spark.textops.ranking import build_postings

    return build_postings(
        _t(spark, sf_dir, "documents"), min_df=5, max_df_frac=0.2, ngram=2
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF_FLAT ANN (vectors/ivf.py) probed at nprobe = n_centroids:
    the full IVF plan (quantizer train → bucket assign → probe shortlist
    → bucket join → rerank) runs, and full probe makes the result
    provably equal to brute-force cosine — which is what the SQL oracle
    computes. Partial-probe recall is pytest-verified (tests/test_ivf.py)."""
    from plwordnet_spark.vectors.ivf import IvfIndex, ivf_assign, ivf_topk, kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = (
        emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    cents = kmeans_centroids(emb, n_centroids=8, max_iters=3)
    index = IvfIndex(centroids=cents, corpus=ivf_assign(emb, cents))
    return ivf_topk(index, qs, k=5, nprobe=8).select(
        "query_id", "vec_id", F.round("sim", 4).alias("sim"), "rank"
    )


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means (vectors/ivf.py kmeans_centroids)
    verified iteration-by-iteration: deterministic init (8 smallest ids),
    3 Lloyd rounds (broadcast-centroid assignment + centroid-sized
    grouped mean), then a final assignment under the trained centroids.
    Unlike q_ivf_topk (whose full-probe contract is centroid-agnostic),
    this contract pins the CLUSTERING itself: per-bucket member count /
    min id / id-sum pin every assignment exactly, and avg cosine-to-
    centroid pins the centroid values to 4dp. The embedding-clustering
    primitive behind IVF coarse quantizers and corpus curation
    (reference trains Milvus IVF_FLAT, similar_search_handler.py:236)."""
    from plwordnet_spark.vectors.ivf import (
        _dot,
        _l2_normalize,
        ivf_assign,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = kmeans_centroids(emb, n_centroids=8, max_iters=3)
    assigned = ivf_assign(emb, cents)
    scored = (
        assigned.select(
            "vec_id", "bucket", _l2_normalize(F.col("embedding")).alias("_v")
        )
        .join(F.broadcast(cents), "bucket")
        .select("vec_id", "bucket", _dot(F.col("_v"), F.col("centroid")).alias("s"))
    )
    return scored.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_member"),
        F.sum("vec_id").alias("sum_members"),
        F.round(F.avg("s"), 4).alias("avg_sim"),
    )


def _kmeans_oracle_sql(
    n_centroids: int = 8, iters: int = 3, final: str | None = None
) -> str:
    """Fully unrolled Lloyd replay in portable SQL: long-form (id, pos,
    x) vectors, per-iteration argmax assignment (score DESC, bucket ASC
    tie-break — same as ivf.py _assign), per-bucket per-dimension AVG,
    re-normalize, empty buckets keep the previous centroid. CTEs
    MATERIALIZED so DuckDB does not re-expand the iteration chain.
    ``final`` overrides the closing SELECT (the chain ends at the
    post-training assignment CTE ``a{iters+1}``, with ``vn`` the
    normalized long-form vectors) — q_semdedup reuses the chain for
    within-cluster pair similarity."""
    parts = [
        """WITH v AS MATERIALIZED (
            SELECT vec_id AS id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        nrm AS MATERIALIZED (
            SELECT id, sqrt(sum(x*x)) AS n FROM v GROUP BY id
        ),
        vn AS MATERIALIZED (
            SELECT v.id, v.pos,
                   CASE WHEN nrm.n > 0 THEN v.x / nrm.n ELSE v.x END AS x
            FROM v JOIN nrm USING (id)
        ),
        init_ids AS (SELECT DISTINCT id FROM vn ORDER BY id LIMIT """
        + str(n_centroids)
        + """),
        c0 AS MATERIALIZED (
            SELECT CAST(dense_rank() OVER (ORDER BY id) - 1 AS INTEGER)
                       AS bucket, pos, x
            FROM vn WHERE id IN (SELECT id FROM init_ids)
        )"""
    ]
    for i in range(1, iters + 1):
        p, c = i - 1, i
        parts.append(
            f""",
        s{i} AS MATERIALIZED (
            SELECT vn.id, c.bucket, sum(vn.x * c.x) AS s
            FROM vn JOIN c{p} c USING (pos) GROUP BY vn.id, c.bucket
        ),
        a{i} AS MATERIALIZED (
            SELECT id, bucket FROM (
                SELECT id, bucket, row_number() OVER (
                    PARTITION BY id ORDER BY s DESC, bucket) AS rn
                FROM s{i}
            ) WHERE rn = 1
        ),
        m{i} AS MATERIALIZED (
            SELECT a.bucket, vn.pos, avg(vn.x) AS m
            FROM a{i} a JOIN vn ON vn.id = a.id GROUP BY a.bucket, vn.pos
        ),
        mn{i} AS (SELECT bucket, sqrt(sum(m*m)) AS n FROM m{i} GROUP BY bucket),
        c{c} AS MATERIALIZED (
            SELECT m{i}.bucket, m{i}.pos,
                   CASE WHEN mn{i}.n > 0 THEN m{i}.m/mn{i}.n ELSE m{i}.m END AS x
            FROM m{i} JOIN mn{i} USING (bucket)
            UNION ALL
            SELECT c{p}.bucket, c{p}.pos, c{p}.x FROM c{p}
            WHERE c{p}.bucket NOT IN (SELECT bucket FROM m{i})
        )"""
        )
    f = iters + 1
    parts.append(
        f""",
        s{f} AS MATERIALIZED (
            SELECT vn.id, c.bucket, sum(vn.x * c.x) AS s
            FROM vn JOIN c{iters} c USING (pos) GROUP BY vn.id, c.bucket
        ),
        a{f} AS MATERIALIZED (
            SELECT id, bucket, s FROM (
                SELECT id, bucket, s, row_number() OVER (
                    PARTITION BY id ORDER BY s DESC, bucket) AS rn
                FROM s{f}
            ) WHERE rn = 1
        )"""
    )
    if final is None:
        final = f"""
        SELECT CAST(bucket AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(id) AS BIGINT) AS min_member,
               CAST(sum(id) AS BIGINT) AS sum_members,
               ROUND(avg(s), 4) AS avg_sim
        FROM a{f}
        GROUP BY bucket"""
    parts.append(final)
    return "".join(parts)


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pairs (vectors/ivf.py
    semdedup_pairs): oracle-pinned k-means gates the O(n²) cosine to
    within-cluster pairs; threshold 0.35 on these embeddings surfaces
    the label-correlated neighbors. The semantic complement of
    q_minhash_dup_pairs' lexical dedup."""
    from plwordnet_spark.vectors.ivf import semdedup_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return semdedup_pairs(
        emb, n_centroids=8, max_iters=3, threshold=0.35
    ).select("id_a", "id_b", F.round("sim", 4).alias("sim"))


def _semdedup_oracle_sql(threshold: float = 0.35) -> str:
    final = f""",
        p AS MATERIALIZED (
            SELECT a.id AS id_a, b.id AS id_b
            FROM a4 a JOIN a4 b ON a.bucket = b.bucket AND a.id < b.id
        ),
        sims AS (
            SELECT p.id_a, p.id_b, SUM(va.x * vb.x) AS s
            FROM p
            JOIN vn va ON va.id = p.id_a
            JOIN vn vb ON vb.id = p.id_b AND vb.pos = va.pos
            GROUP BY p.id_a, p.id_b
        )
        SELECT id_a, id_b, ROUND(s, 4) AS sim
        FROM sims WHERE s >= {threshold}"""
    return _kmeans_oracle_sql(final=final)


def _q_group_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 ★: group-relation → member cross products, on a TPC-H-derived
    grouping (members = suppliers, groups = nations, group relations =
    region-adjacent nation pairs). Salted path exercised; the SQL oracle
    is the plain double join."""
    from plwordnet_spark.datasets.relations import expand_group_relations

    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    membership = supplier.select(
        F.col("s_suppkey").alias("member_id"),
        F.col("s_nationkey").cast("long").alias("group_id"),
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("pg"), F.col("n_regionkey").alias("r1")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cg"), F.col("n_regionkey").alias("r2")
    )
    group_rels = (
        n1.join(n2, (F.col("r1") == F.col("r2")) & (F.col("pg") < F.col("cg")))
        .select(
            F.col("pg").cast("long").alias("parent_group"),
            F.col("cg").cast("long").alias("child_group"),
            F.lit(1).alias("rel_id"),
        )
    )
    return expand_group_relations(group_rels, membership, n_salts=4).select(
        "src", "dst", "rel_id"
    )


def _q_synonymy_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 ★: ordered member pairs within each group (self-pairs excluded),
    groups = nations over suppliers."""
    from plwordnet_spark.datasets.relations import synonymy_cliques

    membership = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("member_id"),
        F.col("s_nationkey").cast("long").alias("group_id"),
    )
    return synonymy_cliques(membership, rel_id=0).select("src", "dst", "rel_id")


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.triangles import triangle_count

    edges = _derived_edges(spark, sf_dir)
    n = triangle_count(edges)
    return spark.createDataFrame([(n,)], "n_triangles long")


def _q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.triangles import clustering_coefficient

    edges = _derived_edges(spark, sf_dir)
    return clustering_coefficient(edges)


def _q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.stats import degree_distribution

    edges = _derived_edges(spark, sf_dir)
    return degree_distribution(edges)


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.components import connected_components

    edges = _derived_edges(spark, sf_dir)
    res = connected_components(spark, edges)
    return res.state.select("id", "component")


# Sparser derived graph for macro-structure queries: the mod-211 graph
# saturates at sf0.01 (near-complete digraph — bow-tie trivially all
# CORE, assortativity variance ~0). mod 499 + the l_linenumber=1 /
# orderkey%7 thinning keeps avg degree ~4: giant SCC plus real
# IN/OUT/TENDRIL fringe at every sf.
_STRUCT_EDGE_SQL = """
    SELECT DISTINCT
        CAST(l_orderkey % 499 AS BIGINT) AS src,
        CAST(l_partkey % 499 AS BIGINT) AS dst
    FROM lineitem
    WHERE l_linenumber = 1 AND l_orderkey % 7 = 0
      AND l_orderkey % 499 <> l_partkey % 499
"""


def _struct_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 7 == 0))
        .select(
            (F.col("l_orderkey") % 499).cast("long").alias("src"),
            (F.col("l_partkey") % 499).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.structure import reciprocity

    return reciprocity(_struct_edges(spark, sf_dir))


def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.structure import degree_assortativity

    return degree_assortativity(_struct_edges(spark, sf_dir))


_CONDUCTANCE_COMM_MOD = 7
_RICH_CLUB_KS = [0, 1, 2, 4, 8]


def _q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (graph/stats.py conductance) of the
    id%7 partition over the structure graph — the sweep-cut quality
    gate complementing q_modularity's single global score."""
    from plwordnet_spark.graph.stats import conductance

    edges = _struct_edges(spark, sf_dir)
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comm = ids.select(
        "id", (F.col("id") % _CONDUCTANCE_COMM_MOD).alias("community")
    )
    return conductance(edges, comm)


def _q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) (graph/stats.py rich_club) at five
    thresholds over the structure graph — the 'hubs link to hubs'
    diagnostic that decides whether hot-hub handling pays."""
    from plwordnet_spark.graph.stats import rich_club

    return rich_club(_struct_edges(spark, sf_dir), _RICH_CLUB_KS)


def _q_avg_nbr_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree profile knn(k) (graph/stats.py
    avg_neighbor_degree) over the structure graph — localizes the
    assortativity signal q_assortativity reduces to one Pearson r."""
    from plwordnet_spark.graph.stats import avg_neighbor_degree

    return avg_neighbor_degree(_struct_edges(spark, sf_dir))


def _q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node eccentricity (graph/centrality.py eccentricity) on the
    derived graph — radius/diameter/center fall out of the profile;
    shares the all-sources composite BFS with harmonic/closeness so the
    oracle is the same APSP CTE with MAX instead of Σ1/d."""
    from plwordnet_spark.graph.centrality import eccentricity

    return eccentricity(spark, _derived_edges(spark, sf_dir), directed=False)


def _q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level main-content extraction (textops/lines.py
    strip_host_boilerplate): learn each host's template lines from
    cross-page frequency (q_host_boilerplate's pass), then delete them
    from every page of that host, preserving line order. Same 3-token
    pseudo-lines and host=source as the other line contracts."""
    from plwordnet_spark.textops.lines import strip_host_boilerplate

    k = _CHUNK_TOKENS
    docs2 = _t(spark, sf_dir, "documents").selectExpr(
        "source",
        "doc_id",
        "array_join(transform(sequence(0,"
        f" cast(ceil(size(split(text, ' ')) / {k}.0) as int) - 1),"
        f" i -> array_join(slice(split(text, ' '), i * {k} + 1, {k}), ' ')),"
        " '\\n') AS text",
    )
    return strip_host_boilerplate(
        docs2, min_frac=0.08, min_pages=5, host_col="source"
    )


def _q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (sketches.py): build a 3×32 counter grid over
    the event stream's user ids, then point-estimate every distinct
    user against the exact count — (user_id, exact, est) with
    est >= exact by construction, collisions visible at this width.
    Deterministic congruential hashes make the whole sketch SQL-
    replayable; grids merge by element-wise sum (pytest)."""
    from plwordnet_spark.sketches import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events").select("user_id")
    grid = cms_build(ev, "user_id", width=32, depth=3)
    keys = ev.distinct()
    est = cms_estimate(grid, keys, "user_id", width=32, depth=3)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    return exact.join(est, "user_id").select("user_id", "exact", "est")


def _q_wl_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed 1-WL color refinement (graph/wl.py): per-node structural-
    role label after 3 rounds — template/mirror/hub discovery from link
    shape alone. Commutative modular multiset hash makes the refinement
    order-free and engine-replayable."""
    from plwordnet_spark.graph.wl import wl_labels

    return wl_labels(spark, _struct_edges(spark, sf_dir), iterations=3)


def _wl_oracle_sql(iters: int = 3) -> str:
    """Unrolled hashed-WL replay: same modular polynomial, same
    symmetrized edge set, LEFT JOIN keeps isolated-side nodes (none in
    the symmetrized table, kept for rule parity)."""
    from plwordnet_spark.graph.wl import WL_A, WL_B, WL_C, WL_P

    parts = [
        f"""WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL}),
        sym AS MATERIALIZED (
            SELECT DISTINCT u, v FROM (
                SELECT src AS u, dst AS v FROM edges
                UNION ALL
                SELECT dst AS u, src AS v FROM edges
            ) WHERE u <> v
        ),
        w0 AS (SELECT DISTINCT u AS id, CAST(1 AS BIGINT) AS l FROM sym)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
        w{i} AS MATERIALIZED (
            SELECT n.id,
                   ({WL_A} * n.l + COALESCE(s.t, 0)) % {WL_P} AS l
            FROM w{p} n LEFT JOIN (
                SELECT e.u AS id,
                       SUM(({WL_B} * w.l + {WL_C}) % {WL_P}) % {WL_P} AS t
                FROM sym e JOIN w{p} w ON w.id = e.v GROUP BY e.u
            ) s ON s.id = n.id
        )"""
        )
    parts.append(f"\n        SELECT id, l AS label FROM w{iters}")
    return "".join(parts)


def _q_triad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 2-path / feed-forward / cyclic-triangle census
    (graph/triangles.py directed_triangle_census) on the structure
    graph: transitive ≫ cyclic marks hierarchy, cyclic surplus marks
    collusive link rings — the motif complement of q_triangle_count's
    undirected total."""
    from plwordnet_spark.graph.triangles import directed_triangle_census

    return directed_triangle_census(_struct_edges(spark, sf_dir))


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.structure import strongly_connected_components

    return strongly_connected_components(spark, _struct_edges(spark, sf_dir))


def _q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.structure import bowtie

    return bowtie(spark, _struct_edges(spark, sf_dir))


def _q_topo_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path layering of the SCC condensation DAG
    (graph/structure.py condensation_levels): level 0 = un-pointed-to
    frontier components, level k depends only on levels < k — the
    seed-independent 'link depth' a crawl scheduler orders by, and the
    third member of the macro-structure family beside q_scc/q_bowtie."""
    from plwordnet_spark.graph.structure import condensation_levels

    return condensation_levels(spark, _struct_edges(spark, sf_dir))


def _q_anf_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood function — sketch-approximate, so no SQL
    oracle (rows-only driver check); exactness vs BFS ball counts is
    pytest-verified in tests/test_structure.py."""
    from plwordnet_spark.graph.structure import neighborhood_function

    res = neighborhood_function(
        spark, _struct_edges(spark, sf_dir), max_distance=16, lg_k=12
    )
    return res.counts


_PR_ITERS = 30  # fixed power-iteration count: engine and SQL oracle run
# exactly the same K so per-vertex ranks match to the 8-decimal rounding
_LPA_ITERS = 5
_KATZ_ITERS = 15  # fixed-k Katz: engine and unrolled SQL oracle run the
# same K so per-vertex scores match to the 8-decimal rounding
_KATZ_ALPHA = 0.05
_TRUSS_K = 5
_TRUSS_MOD = 1511  # sparser modded graph than _derived_edges: at sf0.01
# k=5 peeling takes 17 real rounds (58,414 -> 144 edges); peeling is
# idempotent at fixpoint, so the oracle's fixed 20-round unroll replays
# the engine's run-to-convergence exactly (measured rounds: sf0.001=3,
# sf0.01=17, sf0.1=1 — all < _TRUSS_UNROLL)
_TRUSS_UNROLL = 20
_EMB_DIM = 64  # driver testdata embedding width (all sf dirs)
_DUP_THRESHOLD = 0.8  # exact-Jaccard near-dup bar shared by both sides


def _q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k Katz centrality (graph/katz.py) on the modded-key graph;
    the oracle unrolls the same K gather steps in SQL."""
    from plwordnet_spark.graph.katz import katz_centrality

    res = katz_centrality(
        spark,
        _derived_edges(spark, sf_dir),
        alpha=_KATZ_ALPHA,
        beta=1.0,
        tol=0.0,
        max_iterations=_KATZ_ITERS,
        normalize=True,
    )
    return res.state.select("id", F.round("katz", 8).alias("katz"))


def _q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss cohesive core (graph/truss.py) on a sparser modded-key
    graph; the oracle unrolls 20 idempotent peel rounds in SQL."""
    from plwordnet_spark.graph.truss import ktruss

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % _TRUSS_MOD).cast("long").alias("src"),
        (F.col("l_partkey") % _TRUSS_MOD).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return ktruss(spark, edges, k=_TRUSS_K)


def _q_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.pagerank import pagerank

    edges = _derived_edges(spark, sf_dir)
    res = pagerank(spark, edges, tol=0.0, max_iterations=_PR_ITERS, weighted=False)
    return res.state.select("id", F.round("rank", 8).alias("rank"))


def _derived_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same modded-key graph, edge weight = pair multiplicity."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            (F.col("l_orderkey") % 211).cast("long").alias("src"),
            (F.col("l_partkey") % 211).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def _q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted scatter shares (weight / out-weight) — the reference's
    relation-weight semantics on the flagship algorithm."""
    from plwordnet_spark.graph.pagerank import pagerank

    edges = _derived_weighted_edges(spark, sf_dir)
    res = pagerank(spark, edges, tol=0.0, max_iterations=_PR_ITERS, weighted=True)
    return res.state.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-sensitive teleport: seeds = ids divisible by 5, uniform p
    over the seed set; dangling mass follows p."""
    from plwordnet_spark.graph.pagerank import pagerank

    edges = _derived_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .filter(F.col("id") % 5 == 0)
        .select("id", F.lit(1.0).alias("p"))
    )
    res = pagerank(
        spark, edges, tol=0.0, max_iterations=_PR_ITERS, weighted=False,
        personalization=seeds,
    )
    return res.state.select("id", F.round("rank", 8).alias("rank"))


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.labelprop import label_propagation

    edges = _derived_edges(spark, sf_dir)
    res = label_propagation(spark, edges, max_iterations=_LPA_ITERS)
    return res.state.select("id", "label")


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verify — the
    production near-dup shape (cheap hash candidates, exact similarity
    only on candidates). The exact verify makes the result SQL-checkable:
    the oracle computes all pairs with Jaccard ≥ threshold directly."""
    from plwordnet_spark.textops.dedup import (
        exact_jaccard_for_pairs,
        minhash_candidate_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # max_bucket effectively off: the oracle has no cap, so the contract
    # comparison must not depend on bucket sizes; 16×2 banding puts the
    # residual miss probability at ~1e-7 per true pair at J=0.8
    cand = minhash_candidate_pairs(docs, n_bands=16, max_bucket=1_000_000_000)
    return (
        exact_jaccard_for_pairs(cand, docs)
        .filter(F.col("jaccard") >= F.lit(_DUP_THRESHOLD))
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-banded candidates + exact-Jaccard verify (same
    SQL-checkable pipeline shape as q_minhash_dup_pairs, different
    candidate generator). max_hamming=15 is the 64-bit maximum; the
    oracle equivalence is empirical at the driver's scale factors
    (verified sf0.001/0.01/0.1) — a J≥0.8 pair at simhash distance >15
    would be an engine-only miss, which is the operator's documented
    recall bound, not a wrong answer."""
    from plwordnet_spark.textops.dedup import (
        exact_jaccard_for_pairs,
        simhash_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = simhash_near_dup_pairs(docs, max_hamming=15)
    return (
        exact_jaccard_for_pairs(cand, docs)
        .filter(F.col("jaccard") >= F.lit(_DUP_THRESHOLD))
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets. The seeded
    hyperplanes are plain Python floats, so the DuckDB oracle inlines the
    same constants and replays candidate generation exactly."""
    from plwordnet_spark.vectors.similarity import cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return cosine_pairs(
        emb, dim=_EMB_DIM, threshold=0.3, n_bands=8, band_bits=4
    ).select("id_a", "id_b", F.round("sim", 4).alias("sim"))


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k (IVF/HNSW analog); the oracle replays the
    seeded-plane bucketing in SQL (see _q_embedding_near_dup)."""
    from plwordnet_spark.vectors.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucketed_topk(emb, qs, dim=_EMB_DIM, k=5, n_bands=8, band_bits=4).select(
        "query_id", "vec_id", F.round("sim", 4).alias("sim"), "rank"
    )


def _q_weighted_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 ★ weighted mean pooling (strategy.py:70-98 semantics, weight =
    1 + n smoothing analog derived from vec_id); result arrays re-exploded
    so the value hash compares per-dimension scalars."""
    from plwordnet_spark.vectors.pooling import weighted_mean_pool

    emb = _t(spark, sf_dir, "embeddings").select(
        "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
        (F.lit(1.0) + (F.col("vec_id") % 5).cast("double")).alias("weight"),
    )
    pooled = weighted_mean_pool(emb, ["label"], out_col="vec")
    return pooled.select("label", F.posexplode("vec").alias("pos", "x")).select(
        "label", "pos", F.round("x", 6).alias("mean_x")
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (batch form of the streaming operator);
    the oracle rebuilds sessions with lag + cumulative new-session flags
    — the relational definition Spark's session_window implements."""
    from plwordnet_spark.streaming.windows import sessionize_events

    events = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return sessionize_events(events, gap="30 minutes").select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


_HITS_ITERS = 20
_SSSP_ROUNDS = 15


def _q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (fixed Bellman-Ford rounds; weights are
    integral edge multiplicities so distances are exact integers)."""
    from plwordnet_spark.graph.bfs import sssp_distances

    edges = _derived_weighted_edges(spark, sf_dir)
    res = sssp_distances(
        spark, edges, sources=[0], directed=True, max_iterations=_SSSP_ROUNDS
    )
    return res.state.select("id", F.col("dist").cast("long").alias("dist"))


def _q_sssp_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-stepping SSSP (bucketed Meyer & Sanders) on the same graph
    and source as q_sssp. The engine runs to full convergence and the
    plain Bellman-Ford fixpoint lands within 3-4 rounds (≪ the oracle's
    15 unrolled rounds), so the identical unrolled-relaxation SQL is a
    valid oracle for the bucketed algorithm's converged distances."""
    from plwordnet_spark.graph.bfs import delta_stepping_sssp

    edges = _derived_weighted_edges(spark, sf_dir)
    res = delta_stepping_sssp(spark, edges, sources=[0], directed=True, delta=2.0)
    return res.state.select("id", F.col("dist").cast("long").alias("dist"))


_KCORE_K = 90
_KCORE_ROUNDS = 25

# sparser mod-1009 graph for the k-core query: its degree spread gives a
# genuine multi-round peeling cascade at the gate sf (3 rounds → 981
# survivors at sf0.01), where the dense mod-211 graph flips whole-graph
# ↔ empty at a single k
_KCORE_EDGE_SQL = """
    SELECT DISTINCT
        CAST(l_orderkey % 1009 AS BIGINT) AS src,
        CAST(l_partkey % 1009 AS BIGINT) AS dst
    FROM lineitem
    WHERE l_orderkey % 1009 <> l_partkey % 1009
"""


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core node set via iterative peeling. Peeling is a deterministic
    single-valued iteration, so engine-at-max-R and an R-round unrolled
    SQL agree whether or not the fixpoint landed inside R (post-fixpoint
    rounds are no-ops)."""
    from plwordnet_spark.graph.kcore import k_core

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % 1009).cast("long").alias("src"),
            (F.col("l_partkey") % 1009).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    res = k_core(spark, edges, k=_KCORE_K, max_iterations=_KCORE_ROUNDS)
    return res.state.select("id")


def _host_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (id, host) map over the derived graph's node set —
    the SQL-expressible stand-in for host_of(url) so the oracle can
    derive the identical mapping."""
    edges = _derived_edges(spark, sf_dir)
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return ids.select(
        "id", F.concat(F.lit("h"), (F.col("id") % 23).cast("string")).alias("host")
    )


_HOST_MAP_SQL = """
        SELECT id, 'h' || CAST(id % 23 AS VARCHAR) AS host
        FROM (
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        )
"""


def _q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page graph → weighted host graph (the Common-Crawl host-rank
    projection): two id→host joins + one partial-agg groupBy."""
    from plwordnet_spark.graph.hostgraph import project_to_hosts

    edges = _derived_edges(spark, sf_dir)
    return project_to_hosts(edges, _host_map(spark, sf_dir))


_HOST_PR_EDGES_SQL = f"""
    SELECT s.host AS src, d.host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM ({_EDGE_SQL_DERIVATION}) e
    JOIN ({_HOST_MAP_SQL.replace("FROM edges", f"FROM ({_EDGE_SQL_DERIVATION})")}) s
      ON e.src = s.id
    JOIN ({_HOST_MAP_SQL.replace("FROM edges", f"FROM ({_EDGE_SQL_DERIVATION})")}) d
      ON e.dst = d.id
    GROUP BY s.host, d.host
"""


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level authority: weighted PageRank over the host-graph
    projection — THE production page-quality prior (Common Crawl's
    harmonic/host ranks operate at this granularity; spam_mass already
    consumes it seeded). Composition of two independently verified
    pieces (q_host_graph projection, q_pagerank_weighted power
    iteration) pinned END-TO-END by one unrolled oracle over the same
    projected edges — string node ids exercise the engine's
    id-type-agnostic gather path."""
    from plwordnet_spark.graph.hostgraph import project_to_hosts
    from plwordnet_spark.graph.pagerank import pagerank

    hg = project_to_hosts(
        _derived_edges(spark, sf_dir), _host_map(spark, sf_dir)
    ).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("weight"),
    )
    res = pagerank(spark, hg, tol=0.0, max_iterations=_PR_ITERS, weighted=True)
    return res.state.select(
        F.col("id").alias("host"), F.round("rank", 8).alias("rank")
    )


def _q_intra_host_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nepotistic-link ratio per host (Davison-style link-farm signal)."""
    from plwordnet_spark.graph.hostgraph import intra_host_ratio

    edges = _derived_edges(spark, sf_dir)
    r = intra_host_ratio(edges, _host_map(spark, sf_dir))
    return r.select(
        "src_host", "n_intra", "n_total",
        F.round("intra_ratio", 6).alias("intra_ratio"),
    )


def _q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality: ALL-sources composite BFS flood (one
    Pregel loop shares every edge scan across the 211 sources); oracle is
    an all-pairs recursive CTE. The same code path serves the sampled
    (Eppstein-Wang) estimator at web scale."""
    from plwordnet_spark.graph.centrality import harmonic_centrality

    edges = _derived_edges(spark, sf_dir)
    h = harmonic_centrality(spark, edges, directed=False)
    return h.select("id", F.round("harmonic", 6).alias("harmonic"))


def _q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserman-Faust component-normalized closeness over the same
    all-sources flood; exact integer distance sums feed one final
    division, so the oracle matches bit-for-bit after rounding."""
    from plwordnet_spark.graph.centrality import closeness_centrality

    edges = _derived_edges(spark, sf_dir)
    c = closeness_centrality(spark, edges, directed=False)
    return c.select("id", F.round("closeness", 6).alias("closeness"))


def _q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source unweighted shortest paths (undirected); oracle is a
    recursive CTE bounded by the node count."""
    from plwordnet_spark.graph.bfs import bfs_distances

    edges = _derived_edges(spark, sf_dir)
    res = bfs_distances(spark, edges, sources=[0], directed=False)
    return res.state.select("id", "dist")


_ATTACK_FRACS = (0.1, 0.3)


def _q_attack_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-attack tolerance curve (graph/stats.py attack_robustness):
    largest surviving component after deleting the top-f nodes by
    (degree, id) — the Albert–Barabási resilience report, run on the
    SPARSER structure graph where the curve actually bends (at f=0.3
    the attack costs 43 more nodes of giant component than random
    failure); one CC run per f."""
    from plwordnet_spark.graph.stats import attack_robustness

    return attack_robustness(
        spark, _struct_edges(spark, sf_dir), fracs=_ATTACK_FRACS
    )


def _attack_oracle_sql(fracs=_ATTACK_FRACS, mode: str = "degree") -> str:
    if mode == "degree":
        order = "d DESC, id"
    else:
        from plwordnet_spark.textops.sampling import SAMPLE_A, SAMPLE_B, SAMPLE_P

        order = (
            f"(((id + 1) % {SAMPLE_P}) * {SAMPLE_A} + {SAMPLE_B})"
            f" % {SAMPLE_P}, id"
        )
    parts = [
        f"""WITH RECURSIVE edges AS ({_STRUCT_EDGE_SQL}),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS id FROM und UNION ALL SELECT b FROM und
            ) GROUP BY id
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM deg),
        ranked AS MATERIALIZED (
            SELECT id, row_number() OVER (ORDER BY {order}) AS rk
            FROM deg
        )"""
    ]
    selects = []
    for i, f in enumerate(fracs):
        parts.append(
            f""",
        rm{i} AS MATERIALIZED (
            SELECT id FROM ranked
            WHERE rk <= CAST(ceil({float(f)} * (SELECT c FROM nn)) AS BIGINT)
        ),
        sym{i} AS MATERIALIZED (
            SELECT u, v FROM (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b AS u, a AS v FROM und
            )
            WHERE u NOT IN (SELECT id FROM rm{i})
              AND v NOT IN (SELECT id FROM rm{i})
        ),
        ids{i} AS (
            SELECT id FROM deg WHERE id NOT IN (SELECT id FROM rm{i})
        ),
        reach{i}(id, comp) AS (
            SELECT id, id FROM ids{i}
            UNION
            SELECT s.u, r.comp
            FROM reach{i} r JOIN sym{i} s ON r.id = s.v
            WHERE r.comp < s.u
        ),
        cc{i} AS (
            SELECT id, MIN(comp) AS comp FROM reach{i} GROUP BY id
        ),
        big{i} AS (
            SELECT COALESCE(MAX(n), 0) AS largest FROM (
                SELECT comp, count(*) AS n FROM cc{i} GROUP BY comp)
        )"""
        )
        selects.append(
            f"""
        SELECT CAST({float(f)} AS DOUBLE) AS frac,
               CAST(ceil({float(f)} * (SELECT c FROM nn)) AS BIGINT)
                   AS n_removed,
               (SELECT c FROM nn)
                   - CAST(ceil({float(f)} * (SELECT c FROM nn)) AS BIGINT)
                   AS n_nodes_left,
               CAST((SELECT largest FROM big{i}) AS BIGINT) AS largest_cc,
               ROUND(CAST((SELECT largest FROM big{i}) AS DOUBLE)
                     / ((SELECT c FROM nn)
                        - CAST(ceil({float(f)} * (SELECT c FROM nn))
                               AS BIGINT)), 6) AS frac_largest"""
        )
    parts.append("\n        UNION ALL".join(selects))
    return "".join(parts)


def _q_failure_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-FAILURE tolerance curve (attack_robustness mode='random',
    the deterministic congruential draw): the control arm of
    q_attack_curve — the gap between the two is the Albert-Barabási
    fragility signature."""
    from plwordnet_spark.graph.stats import attack_robustness

    return attack_robustness(
        spark, _struct_edges(spark, sf_dir), fracs=_ATTACK_FRACS,
        mode="random",
    )


def _q_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl edge delta: snapshot A = edges observed before
    the cutoff ship-date, snapshot B = all edges; per-node in-degree
    before/after plus the global added/removed split — the freshness
    report a recrawl pipeline emits. Two anti-joins + two degree aggs,
    all map-side-partial; no iteration."""
    e_all = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 211).cast("long").alias("src"),
        (F.col("l_partkey") % 211).cast("long").alias("dst"),
        F.col("l_shipdate"),
    ).filter(F.col("src") != F.col("dst"))
    cutoff = F.lit("1997-01-01").cast("timestamp")
    a = e_all.filter(F.col("l_shipdate") < cutoff).select("src", "dst").distinct()
    b = e_all.select("src", "dst").distinct()
    added = b.join(a, ["src", "dst"], "left_anti")
    deg_a = a.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_a")
    )
    deg_b = b.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_b")
    )
    per_node = (
        deg_a.join(deg_b, "id", "full")
        .select(
            "id",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
        .withColumn("delta", F.col("in_b") - F.col("in_a"))
        .filter(F.col("delta") != 0)
    )
    n_added = added.agg(F.count(F.lit(1)).alias("n_added_edges"))
    return per_node.crossJoin(F.broadcast(n_added))


def _q_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components (graph/components.py
    incremental_components): label yesterday's subgraph (edges with
    (src+dst) % 3 != 0), then fold in today's delta via the star-edge
    trick — the contract is the SEMANTIC one: the warm result equals a
    cold run over the whole graph, which is exactly what the oracle
    computes. Round-count acceleration is pytest-verified."""
    from plwordnet_spark.graph.components import (
        connected_components,
        incremental_components,
    )

    edges = _derived_edges(spark, sf_dir)
    old = edges.filter((F.col("src") + F.col("dst")) % 3 != 0)
    delta = edges.filter((F.col("src") + F.col("dst")) % 3 == 0)
    prev = connected_components(spark, old).state
    return incremental_components(spark, prev, delta).state


def _q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy Δ+1 vertex coloring by iterated Luby MIS (graph/mis.py
    greedy_coloring) — like q_anf_hll this is the engine's other
    deliberately rows-only contract: an unrolled SQL replay would nest
    an MIS fixpoint per color; properness / Δ+1 bound / determinism are
    pytest-verified (tests/test_mis.py TestGreedyColoring)."""
    from plwordnet_spark.graph.mis import greedy_coloring

    return greedy_coloring(spark, _struct_edges(spark, sf_dir))


def _q_bfs_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path tree from seed 0 (graph/bfs.py bfs_tree): dist +
    deterministic min-id predecessor, the crawl-provenance 'how did we
    reach this page' table; parent is a pure function of the distance
    labels so the oracle adds one min-predecessor select to the BFS
    recursive CTE."""
    from plwordnet_spark.graph.bfs import bfs_tree

    edges = _derived_edges(spark, sf_dir)
    return bfs_tree(spark, edges, sources=[0], directed=False).state


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, fixed-k so the unrolled SQL oracle matches."""
    from plwordnet_spark.graph.hits import hits

    edges = _derived_edges(spark, sf_dir)
    res = hits(spark, edges, max_iterations=_HITS_ITERS, tol=0.0)
    return res.state.select(
        "id",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard via the inverted-index self-join (the
    operator itself, not the LSH pipelines)."""
    from plwordnet_spark.textops.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(docs, threshold=0.5, max_df=1_000_000).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.textops.quality import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.textops.quality import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = docs.select("doc_id", quality_features(F.col("text")).alias("q"))
    return q.select(
        "doc_id",
        F.col("q.n_tokens").alias("n_tokens"),
        F.round("q.punct_ratio", 6).alias("punct_ratio"),
        F.round("q.mean_word_len", 6).alias("mean_word_len"),
        F.round("q.quality_score", 6).alias("quality_score"),
    )


def _q_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10/A4: null vectors imputed with their group's mean (reference
    lexical_unit_empty.py semantics); nulls synthesized deterministically
    so the oracle can replay them."""
    from plwordnet_spark.vectors.pooling import impute_missing_by_group

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("embedding").cast("array<double>")
        ).alias("embedding"),
    )
    imputed = impute_missing_by_group(emb, ["label"])
    return imputed.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id", "pos", F.round("x", 6).alias("x")
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing as a contract query: documents' text bytes
    treated as an opaque binary media column, run through the real
    mapInPandas decode-stub seam (multimodal.extract_media_features).
    The stub features are deterministic per-chunk byte means, so DuckDB
    can replay them exactly (list comprehension over code points — the
    corpus is ASCII, so code point == byte)."""
    from plwordnet_spark.multimodal import extract_media_features

    media = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("text").alias("kind"),
            F.lit("text/plain").alias("mime"),
            F.col("text").cast("binary").alias("data"),
            F.lit(None).cast("map<string,string>").alias("meta"),
        )
    )
    feats = extract_media_features(media, dim=8)
    return feats.select(
        "media_id", "kind", "n_bytes", "digest",
        F.posexplode("features").alias("pos", "feat"),
    )


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprint (k smallest rolling hashes of
    16-char shingles) with the engine-portable polynomial hash so DuckDB
    replays it bit-for-bit; the production variant swaps in xxhash64
    (textops.quality.text_fingerprint) with identical plan shape."""
    from plwordnet_spark.textops.quality import text_fingerprint_poly

    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", text_fingerprint_poly("text").alias("fp"))
        .select("doc_id", F.posexplode("fp").alias("pos", "fp_hash"))
    )


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate profiling for 100 TB curation: HLL++ distinct counts.
    Sketch estimates differ between engines, so the contract is
    SELF-CERTIFYING: the row carries the exact count (hash-compared) and
    a boolean asserting the sketch landed within 5×rsd of it — the
    oracle emits the exact count and a literal 1, so the hash matches
    iff the error bound actually held."""
    rsd = 0.02
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("_exact"),
            F.approx_count_distinct("o_custkey", rsd).alias("_approx"),
        )
        .select(
            "o_orderpriority",
            F.col("_exact").cast("long").alias("exact_distinct"),
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= F.lit(5 * rsd) * F.col("_exact")
            ).cast("int").alias("within_bound"),
        )
    )


def _q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna at accuracy 10000) with
    the same self-certifying shape as q_approx_distinct: exact values
    hash-compared, sketch asserted within 1% relative error of exact."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("_e50"),
        F.percentile("l_extendedprice", 0.9).alias("_e90"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_a50"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("_a90"),
    )
    ok = (
        (F.abs(F.col("_a50") - F.col("_e50")) <= 0.01 * F.col("_e50"))
        & (F.abs(F.col("_a90") - F.col("_e90")) <= 0.01 * F.col("_e90"))
    )
    return agg.select(
        "l_returnflag",
        F.round("_e50", 2).alias("p50_exact"),
        F.round("_e90", 2).alias("p90_exact"),
        ok.cast("int").alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, same column names and rounding)
# ---------------------------------------------------------------------------

_WEIGHTED_EDGE_SQL_DERIVATION = """
    SELECT CAST(l_orderkey % 211 AS BIGINT) AS src,
           CAST(l_partkey % 211 AS BIGINT) AS dst,
           CAST(count(*) AS DOUBLE) AS w
    FROM lineitem
    WHERE l_orderkey % 211 <> l_partkey % 211
    GROUP BY 1, 2
"""


def _pagerank_oracle_sql(
    k: int = _PR_ITERS,
    alpha: float = 0.85,
    weighted: bool = False,
    personalized: bool = False,
    edges_sql: str | None = None,
    id_alias: str | None = None,
) -> str:
    """Unrolled fixed-k power iteration: exact engine semantics —
    (out-)weight-normalized scatter, uniform or seed-set teleport,
    dangling mass of the PREVIOUS state redistributed like the teleport.
    One (d_i, r_{i+1}) CTE pair per iteration; per-term float products
    are identical on both sides, summation-order differences sit ~6
    orders below the 8-decimal round."""
    # AS MATERIALIZED: without it DuckDB inlines each CTE at every
    # reference — r_k's expansion grows exponentially and re-opens the
    # parquet thousands of times (EMFILE)
    if edges_sql is not None:
        # caller-supplied WEIGHTED edge derivation (src, dst, w) — e.g.
        # the host-graph projection for q_host_pagerank
        edges_cte = f"WITH edges AS MATERIALIZED ({edges_sql})"
        outd = "SELECT src AS id, SUM(w) AS od FROM edges GROUP BY src"
        contrib = "SUM(r.rank * (e.w/o.od))"
    elif weighted:
        edges_cte = f"WITH edges AS MATERIALIZED ({_WEIGHTED_EDGE_SQL_DERIVATION})"
        outd = "SELECT src AS id, SUM(w) AS od FROM edges GROUP BY src"
        contrib = "SUM(r.rank * (e.w/o.od))"
    else:
        edges_cte = f"WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})"
        outd = "SELECT src AS id, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src"
        contrib = "SUM(r.rank * (1.0/o.od))"
    parts = [
        edges_cte,
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        f"outd AS MATERIALIZED ({outd})",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids)",
    ]
    if personalized:
        parts += [
            "pk AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS k FROM ids WHERE id % 5 = 0)",
            "pv AS MATERIALIZED (SELECT id, CASE WHEN id % 5 = 0 "
            "THEN 1.0/(SELECT k FROM pk) ELSE 0.0 END AS p FROM ids)",
            "r0 AS MATERIALIZED (SELECT id, p AS rank FROM pv)",
        ]
        base = f"pv.p * ((1.0 - {alpha}) + {alpha}*(SELECT dm FROM d{{i}}))"
        anchor = "pv"
    else:
        parts.append(
            "r0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM ids)"
        )
        base = (
            f"((1.0 - {alpha})/(SELECT n FROM nn) "
            f"+ {alpha}*(SELECT dm FROM d{{i}})/(SELECT n FROM nn))"
        )
        anchor = "ids"
    for i in range(k):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm FROM r{i} r "
            "LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT {anchor}.id, "
            f"{base.format(i=i)} "
            f"+ {alpha} * COALESCE(g.inc, 0.0) AS rank "
            f"FROM {anchor} LEFT JOIN ("
            f"SELECT e.dst AS id, {contrib} AS inc "
            f"FROM edges e JOIN outd o ON e.src = o.id JOIN r{i} r ON r.id = e.src "
            f"GROUP BY e.dst) g ON {anchor}.id = g.id)"
        )
    return ",\n".join(parts) + (
        f"\nSELECT id{' AS ' + id_alias if id_alias else ''},"
        f" ROUND(rank, 8) AS rank FROM r{k}"
    )


def _ktruss_oracle_sql(
    k: int = _TRUSS_K, mod: int = _TRUSS_MOD, rounds: int = _TRUSS_UNROLL
) -> str:
    """Fixed-unroll k-truss peel: each round enumerates triangles on the
    surviving canonical edge set (id-ordered wedge join — fine at oracle
    scale; the engine uses the degree-oriented join for hub skew),
    counts per-edge support, and keeps support >= k-2. Peeling is
    idempotent at fixpoint, so rounds > the true peel depth are no-ops
    and the unrolled result equals the engine's to-convergence truss.
    AS MATERIALIZED per the _pagerank_oracle_sql precedent."""
    parts = [
        "WITH e0 AS MATERIALIZED ("
        f"SELECT DISTINCT CAST(least(l_orderkey % {mod}, l_partkey % {mod}) AS BIGINT) AS a, "
        f"CAST(greatest(l_orderkey % {mod}, l_partkey % {mod}) AS BIGINT) AS b "
        f"FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod})"
    ]
    for i in range(rounds):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
            f"FROM e{i} e1 JOIN e{i} e2 ON e1.a = e2.a AND e1.b < e2.b "
            f"JOIN e{i} e3 ON e3.a = e1.b AND e3.b = e2.b)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT a, b, count(*) AS s FROM ("
            f"SELECT x AS a, y AS b FROM t{i} "
            f"UNION ALL SELECT x, z FROM t{i} "
            f"UNION ALL SELECT y, z FROM t{i}) GROUP BY a, b)"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e "
            f"JOIN s{i} s ON e.a = s.a AND e.b = s.b WHERE s.s >= {k - 2})"
        )
    return ",\n".join(parts) + f"\nSELECT a, b FROM e{rounds}"


def _katz_oracle_sql(
    k: int = _KATZ_ITERS, alpha: float = _KATZ_ALPHA, beta: float = 1.0
) -> str:
    """Unrolled fixed-k Katz iteration: x_{t+1} = alpha*A^T x_t + beta,
    L2-normalized at the end (engine semantics, graph/katz.py). Same
    AS MATERIALIZED discipline as _pagerank_oracle_sql."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        f"r0 AS MATERIALIZED (SELECT id, CAST({beta} AS DOUBLE) AS katz FROM ids)",
    ]
    for i in range(k):
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT ids.id, "
            f"{alpha} * COALESCE(g.inc, 0.0) + {beta} AS katz "
            f"FROM ids LEFT JOIN ("
            f"SELECT e.dst AS id, SUM(r.katz) AS inc "
            f"FROM edges e JOIN r{i} r ON r.id = e.src "
            f"GROUP BY e.dst) g ON ids.id = g.id)"
        )
    parts.append(
        f"norm AS MATERIALIZED (SELECT SQRT(SUM(katz*katz)) AS n2 FROM r{k})"
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(katz / (SELECT n2 FROM norm), 8) AS katz FROM r{k}"
    )


def _ppr_batch_oracle_sql(
    seeds: tuple[int, ...] = _PPR_SEEDS,
    k: int = _PR_ITERS,
    alpha: float = 0.85,
) -> str:
    """Unrolled fixed-k power iteration per seed with a one-hot teleport
    (rank(seed) += (1-α) + α·dm, all other base terms exactly 0.0),
    UNION ALL'd with a seed column — the dense replay of ppr_batch's
    sparse composite loop. Shares the edges/ids/outd CTEs across seeds;
    AS MATERIALIZED per the _pagerank_oracle_sql precedent."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "outd AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS od "
        "FROM edges GROUP BY src)",
    ]
    selects = []
    for s in seeds:
        parts.append(
            f"r{s}_0 AS MATERIALIZED (SELECT id, "
            f"CASE WHEN id = {s} THEN 1.0 ELSE 0.0 END AS rank FROM ids)"
        )
        for i in range(k):
            parts.append(
                f"d{s}_{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm "
                f"FROM r{s}_{i} r LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL)"
            )
            parts.append(
                f"r{s}_{i + 1} AS MATERIALIZED (SELECT ids.id, "
                f"CASE WHEN ids.id = {s} THEN (1.0 - {alpha}) "
                f"+ {alpha}*(SELECT dm FROM d{s}_{i}) ELSE 0.0 END "
                f"+ {alpha} * COALESCE(g.inc, 0.0) AS rank "
                f"FROM ids LEFT JOIN ("
                f"SELECT e.dst AS id, SUM(r.rank * (1.0/o.od)) AS inc "
                f"FROM edges e JOIN outd o ON e.src = o.id "
                f"JOIN r{s}_{i} r ON r.id = e.src GROUP BY e.dst"
                f") g ON ids.id = g.id)"
            )
        selects.append(
            f"SELECT id, CAST({s} AS BIGINT) AS seed, ROUND(rank, 8) AS rank "
            f"FROM r{s}_{k}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _lpa_oracle_sql(k: int = _LPA_ITERS) -> str:
    """Unrolled synchronous label propagation: most frequent neighbor
    label, ties to the smallest label, isolated nodes keep their own —
    the engine's exact deterministic rule (graph/labelprop.py)."""
    parts = [
        f"WITH edges AS ({_EDGE_SQL_DERIVATION})",
        "und AS (SELECT DISTINCT u, v FROM ("
        "SELECT src AS u, dst AS v FROM edges "
        "UNION ALL SELECT dst AS u, src AS v FROM edges) WHERE u <> v)",
        "ids AS (SELECT DISTINCT u AS id FROM und)",
        "l0 AS (SELECT id, id AS label FROM ids)",
    ]
    for i in range(k):
        parts.append(
            f"l{i + 1} AS (SELECT l.id, COALESCE(b.lbl, l.label) AS label "
            f"FROM l{i} l LEFT JOIN ("
            "SELECT u AS id, label AS lbl FROM ("
            "SELECT u, label, row_number() OVER "
            "(PARTITION BY u ORDER BY n DESC, label) AS rn "
            "FROM (SELECT e.u, p.label, count(*) AS n "
            f"FROM und e JOIN l{i} p ON e.v = p.id GROUP BY e.u, p.label)"
            ") WHERE rn = 1) b ON l.id = b.id)"
        )
    return ",\n".join(parts) + f"\nSELECT id, label FROM l{k}"


def _sssp_oracle_sql(rounds: int = _SSSP_ROUNDS) -> str:
    """Unrolled Bellman-Ford over the weighted derived edges; integral
    weights make every distance exact (no float drift)."""
    parts = [
        f"WITH rel AS MATERIALIZED (SELECT src AS u, dst AS v, MIN(w) AS w "
        f"FROM ({_WEIGHTED_EDGE_SQL_DERIVATION}) GROUP BY 1, 2)",
        "ids AS MATERIALIZED (SELECT u AS id FROM rel UNION SELECT v FROM rel)",
        "s0 AS MATERIALIZED (SELECT id, CASE WHEN id = 0 THEN 0.0 END AS dist FROM ids)",
    ]
    for i in range(rounds):
        parts.append(
            f"s{i + 1} AS MATERIALIZED (SELECT s.id, LEAST(s.dist, g.nd) AS dist "
            f"FROM s{i} s LEFT JOIN ("
            f"SELECT e.v AS id, MIN(s.dist + e.w) AS nd "
            f"FROM rel e JOIN s{i} s ON s.id = e.u WHERE s.dist IS NOT NULL "
            f"GROUP BY e.v) g ON s.id = g.id)"
        )
    return ",\n".join(parts) + (
        f"\nSELECT id, CAST(dist AS BIGINT) AS dist FROM s{rounds}"
    )


def _kcore_oracle_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled peeling: each round keeps edges whose BOTH endpoints have
    degree >= k in the previous round's edge set."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_KCORE_EDGE_SQL})",
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, "
        "GREATEST(src, dst) AS b FROM edges WHERE src <> dst)",
    ]
    for i in range(rounds):
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT id FROM ("
            f"SELECT id, count(*) AS dg FROM ("
            f"SELECT a AS id FROM e{i} UNION ALL SELECT b FROM e{i}"
            f") GROUP BY id) WHERE dg >= {k})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e "
            f"JOIN g{i} x ON e.a = x.id JOIN g{i} y ON e.b = y.id)"
        )
    return ",\n".join(parts) + (
        f"\nSELECT DISTINCT id FROM "
        f"(SELECT a AS id FROM e{rounds} UNION ALL SELECT b FROM e{rounds})"
    )


def _bfs_oracle_sql() -> str:
    """Recursive CTE: enumerate all (node, depth ≤ n) reachings from the
    source, take MIN per node; unreachable nodes stay NULL."""
    return f"""
        WITH RECURSIVE edges AS ({_EDGE_SQL_DERIVATION}),
        und AS (
            SELECT DISTINCT u, v FROM (
                SELECT src AS u, dst AS v FROM edges
                UNION ALL SELECT dst AS u, src AS v FROM edges
            ) WHERE u <> v
        ),
        ids AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        reach(id, d) AS (
            SELECT id, CAST(0 AS BIGINT) AS d FROM ids WHERE id = 0
            UNION
            SELECT und.v, reach.d + 1 FROM reach
            JOIN und ON reach.id = und.u
            WHERE reach.d < 250
        )
        SELECT i.id, MIN(r.d) AS dist
        FROM ids i LEFT JOIN reach r ON i.id = r.id
        GROUP BY i.id
    """


def _apsp_cte(depth_cap: int = 40) -> str:
    """All-pairs hop distances on the derived 211-node graph: recursive
    CTE seeded from EVERY node, MIN per (lm, id). depth_cap bounds the
    recursion well above the graph's diameter (≤ a handful of hops on
    this dense derivation at every sf)."""
    return f"""
        WITH RECURSIVE edges AS ({_EDGE_SQL_DERIVATION}),
        und AS (
            SELECT DISTINCT u, v FROM (
                SELECT src AS u, dst AS v FROM edges
                UNION ALL SELECT dst AS u, src AS v FROM edges
            ) WHERE u <> v
        ),
        ids AS (
            -- NOT `src UNION dst`: inside WITH RECURSIVE DuckDB applies
            -- iterative UNION semantics to any CTE written as a bare
            -- UNION, inflating the row count; a subquery-DISTINCT keeps
            -- it a plain set
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        ),
        reach(lm, id, d) AS (
            SELECT id, id, CAST(0 AS BIGINT) AS d FROM ids
            UNION
            SELECT reach.lm, und.v, reach.d + 1 FROM reach
            JOIN und ON reach.id = und.u
            WHERE reach.d < {depth_cap}
        ),
        mind AS (SELECT lm, id, MIN(d) AS d FROM reach GROUP BY lm, id)
    """


def _harmonic_oracle_sql() -> str:
    return f"""
        {_apsp_cte()}
        SELECT id, ROUND(SUM(1.0 / d), 6) AS harmonic
        FROM mind WHERE d > 0 GROUP BY id
    """


def _closeness_oracle_sql() -> str:
    return f"""
        {_apsp_cte()},
        n AS (SELECT COUNT(*) AS n_nodes FROM ids),
        agg AS (
            SELECT id, SUM(d) AS total_dist, COUNT(*) AS r1
            FROM mind WHERE d > 0 GROUP BY id
        )
        SELECT id,
               ROUND((CAST(r1 AS DOUBLE) * r1)
                     / (total_dist * (n_nodes - 1.0)), 6) AS closeness
        FROM agg, n
    """


def _hits_oracle_sql(k: int = _HITS_ITERS) -> str:
    """Unrolled fixed-k HITS: per iteration an authority update + L2
    norm + hub update + L2 norm, all as materialized CTEs (same float
    op order as graph/hits.py)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids)",
        "h0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS hub FROM ids)",
    ]
    # k full iterations PLUS the trailing authority update a{k} from the
    # final hub — the engine reports the (h_k, a(h_k)) consistent pair
    for i in range(k + 1):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT i.id, COALESCE(g.s, 0.0) AS a "
            "FROM ids i LEFT JOIN ("
            f"SELECT e.dst AS id, SUM(h.hub) AS s FROM edges e "
            f"JOIN h{i} h ON h.id = e.src GROUP BY e.dst) g ON i.id = g.id)"
        )
        parts.append(
            f"an{i} AS MATERIALIZED (SELECT sqrt(SUM(a*a)) AS n FROM ar{i})"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT n FROM an{i}) > 0 "
            f"THEN a/(SELECT n FROM an{i}) ELSE 0.0 END AS a FROM ar{i})"
        )
        if i == k:
            break
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT i.id, COALESCE(g.s, 0.0) AS h "
            "FROM ids i LEFT JOIN ("
            f"SELECT e.src AS id, SUM(x.a) AS s FROM edges e "
            f"JOIN a{i} x ON x.id = e.dst GROUP BY e.src) g ON i.id = g.id)"
        )
        parts.append(
            f"hn{i} AS MATERIALIZED (SELECT sqrt(SUM(h*h)) AS n FROM hr{i})"
        )
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT n FROM hn{i}) > 0 "
            f"THEN h/(SELECT n FROM hn{i}) ELSE 0.0 END AS hub FROM hr{i})"
        )
    return ",\n".join(parts) + (
        f"\nSELECT h.id, ROUND(h.hub, 6) AS hub, ROUND(a.a, 6) AS authority "
        f"FROM h{k} h JOIN a{k} a ON h.id = a.id"
    )


# exact word-3-gram Jaccard over all pairs sharing ≥1 shingle (complete
# for any threshold > 0) — mirrors word_shingles_expr byte-for-byte:
# normalize → split → 3-gram windows (short-text clipping included) →
# distinct → drop empties
_JACCARD_SQL_CTES = r"""
docs_n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
words AS (SELECT doc_id, string_split(t, ' ') AS ws FROM docs_n),
sh AS (
    SELECT doc_id, unnest(list_distinct(list_filter(
        [array_to_string(ws[i+1:i+3], ' ') FOR i IN range(0, greatest(len(ws)-3, 0)+1)],
        s -> length(s) > 0))) AS sh
    FROM words
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
jac AS (
    SELECT p.id_a, p.id_b,
           p.common / CAST(sa.sz + sb.sz - p.common AS DOUBLE) AS jaccard
    FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) p
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
)
"""

_JACCARD_PAIRS_ORACLE = (
    f"WITH {_JACCARD_SQL_CTES} "
    f"SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard FROM jac "
    f"WHERE jaccard >= {_DUP_THRESHOLD}"
)


# mirrors textops.quality._words: lower → trim → split \s+ → drop empties
_WORDS_SQL = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> length(w) > 0)"

_PL_SQL = "['i','w','z','na','do','nie','się','jest','to','że','po','dla','od','przez','oraz','ale','jak','co','tak','przy']"
_EN_SQL = "['the','of','and','to','in','a','is','that','it','for','on','with','as','are','this','be','at','by','or','an']"


def _stop_ratio_sql(stop_list: str) -> str:
    return (
        f"CASE WHEN len(ws) > 0 THEN "
        f"len(list_filter(ws, w -> list_contains({stop_list}, w))) / len(ws) "
        f"ELSE 0.0 END"
    )


def _language_id_oracle() -> str:
    return f"""
        WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
        r AS (SELECT doc_id, {_stop_ratio_sql(_PL_SQL)} AS pl,
                     {_stop_ratio_sql(_EN_SQL)} AS en FROM w)
        SELECT doc_id,
               CASE WHEN pl < 0.02 AND en < 0.02 THEN 'unknown'
                    WHEN pl >= en THEN 'pl' ELSE 'en' END AS lang_pred
        FROM r
    """


def _quality_score_oracle() -> str:
    # exact replicas of quality_features' float expressions (same op
    # order) so the 6-decimal rounds agree bit-for-bit
    punct = (
        r"CASE WHEN length(text) > 0 THEN (length(text) - "
        r"length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g'))) "
        r"/ length(text) ELSE 0.0 END"
    )
    nondigit = (
        "CASE WHEN length(text) > 0 THEN (length(text) - "
        "length(regexp_replace(text, '[^0-9]', '', 'g'))) "
        "/ length(text) ELSE 0.0 END"
    )
    return f"""
        WITH w AS (SELECT doc_id, text, {_WORDS_SQL} AS ws FROM documents),
        feats AS (
            SELECT doc_id,
                   CAST(len(ws) AS INTEGER) AS n_tokens,
                   {punct} AS punct,
                   CASE WHEN length(text) > 0 THEN 1.0 - ({nondigit}) ELSE 0.0 END AS digit_ratio,
                   CASE WHEN len(ws) > 0 THEN
                       list_sum(list_transform(ws, w -> length(w))) / len(ws)
                   ELSE 0.0 END AS mean_word_len,
                   greatest({_stop_ratio_sql(_PL_SQL)}, {_stop_ratio_sql(_EN_SQL)}) AS stop
            FROM w
        )
        SELECT doc_id, n_tokens,
               ROUND(punct, 6) AS punct_ratio,
               ROUND(mean_word_len, 6) AS mean_word_len,
               ROUND(greatest(
                   1.0
                   - (CASE WHEN punct > 0.3 THEN punct - 0.3 ELSE 0.0 END)
                   - (CASE WHEN digit_ratio > 0.3 THEN digit_ratio - 0.3 ELSE 0.0 END)
                   - (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 0.0 END)
                   - (CASE WHEN stop < 0.05 THEN 0.2 ELSE 0.0 END),
                   0.0), 6) AS quality_score
        FROM feats
    """


def _lsh_banded_sql(src: str, id_expr: str, n_bands: int, band_bits: int,
                    seed: int, dim: int) -> str:
    """(id, v, band, code) per band with the engine's seeded hyperplane
    constants inlined — replays vectors.similarity._band_codes_udf's
    sign-bit bucketing in pure SQL (planes are plain Python floats)."""
    from plwordnet_spark.vectors.similarity import _random_planes

    planes = _random_planes(dim, n_bands * band_bits, seed)
    selects = []
    for b in range(n_bands):
        terms = []
        for r in range(band_bits):
            lit = "[" + ", ".join(repr(x) for x in planes[b * band_bits + r]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) >= 0 "
                f"THEN {1 << (band_bits - 1 - r)} ELSE 0 END)"
            )
        selects.append(
            f"SELECT {id_expr}, v, {b} AS band, {' + '.join(terms)} AS code FROM {src}"
        )
    return " UNION ALL ".join(selects)


def _embedding_near_dup_oracle() -> str:
    banded = _lsh_banded_sql("e", "vec_id", n_bands=8, band_bits=4, seed=42, dim=_EMB_DIM)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        banded AS ({banded}),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
        ),
        scored AS (
            SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS s
            FROM cand c
            JOIN e ea ON ea.vec_id = c.id_a
            JOIN e eb ON eb.vec_id = c.id_b
        )
        SELECT id_a, id_b, ROUND(s, 4) AS sim FROM scored WHERE s >= 0.3
    """


def _lsh_topk_oracle() -> str:
    corpus_banded = _lsh_banded_sql("e", "vec_id", 8, 4, 42, _EMB_DIM)
    query_banded = _lsh_banded_sql("q", "query_id", 8, 4, 42, _EMB_DIM)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
        cb AS ({corpus_banded}),
        qb AS ({query_banded}),
        cand AS (
            SELECT DISTINCT qb.query_id, cb.vec_id
            FROM cb JOIN qb ON cb.band = qb.band AND cb.code = qb.code
        ),
        scored AS (
            SELECT c.query_id, c.vec_id, list_cosine_similarity(eq.v, ec.v) AS s
            FROM cand c
            JOIN e ec ON ec.vec_id = c.vec_id
            JOIN e eq ON eq.vec_id = c.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, s,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY s DESC, vec_id
                   ) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, ROUND(s, 4) AS sim, rank
        FROM ranked WHERE rank <= 5
    """


_SPAM_SEED_MOD = 7  # trusted whitelist = node ids divisible by 7


def _q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank spam mass (graph/trustrank.py): uniform PageRank and
    seed-teleport TrustRank share one cached edge table; spam_mass =
    (pr - tr)/pr per vertex."""
    from plwordnet_spark.graph.trustrank import spam_mass

    edges = _derived_edges(spark, sf_dir)
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = ids.filter(F.col("id") % _SPAM_SEED_MOD == 0)
    res = spam_mass(
        spark, edges, seeds, tol=0.0, max_iterations=_PR_ITERS, weighted=False
    )
    return res.state.select(
        "id",
        F.round("pr", 8).alias("pr"),
        F.round("tr", 8).alias("tr"),
        F.round("spam_mass", 8).alias("spam_mass"),
    )


def _spam_mass_oracle_sql(k: int = _PR_ITERS, alpha: float = 0.85) -> str:
    """Two unrolled fixed-k power-iteration chains over ONE edge CTE —
    uniform-teleport (u-prefix) and trusted-seed (t-prefix, ids % 7 = 0)
    — joined at the end for spam mass. Same AS MATERIALIZED and
    per-term-float discipline as _pagerank_oracle_sql."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "outd AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS od "
        "FROM edges GROUP BY src)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids)",
        # uniform chain init
        "ur0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM ids)",
        # trusted-seed teleport vector + init
        f"sk AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS k FROM ids "
        f"WHERE id % {_SPAM_SEED_MOD} = 0)",
        f"sv AS MATERIALIZED (SELECT id, CASE WHEN id % {_SPAM_SEED_MOD} = 0 "
        "THEN 1.0/(SELECT k FROM sk) ELSE 0.0 END AS p FROM ids)",
        "tr0 AS MATERIALIZED (SELECT id, p AS rank FROM sv)",
    ]
    gather = (
        "SELECT e.dst AS id, SUM(r.rank * (1.0/o.od)) AS inc "
        "FROM edges e JOIN outd o ON e.src = o.id JOIN {prev} r ON r.id = e.src "
        "GROUP BY e.dst"
    )
    for i in range(k):
        parts.append(
            f"ud{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm "
            f"FROM ur{i} r LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL)"
        )
        parts.append(
            f"ur{i + 1} AS MATERIALIZED (SELECT ids.id, "
            f"((1.0 - {alpha})/(SELECT n FROM nn) "
            f"+ {alpha}*(SELECT dm FROM ud{i})/(SELECT n FROM nn)) "
            f"+ {alpha} * COALESCE(g.inc, 0.0) AS rank "
            f"FROM ids LEFT JOIN ({gather.format(prev=f'ur{i}')}) g ON ids.id = g.id)"
        )
        parts.append(
            f"td{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm "
            f"FROM tr{i} r LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL)"
        )
        parts.append(
            f"tr{i + 1} AS MATERIALIZED (SELECT sv.id, "
            f"sv.p * ((1.0 - {alpha}) + {alpha}*(SELECT dm FROM td{i})) "
            f"+ {alpha} * COALESCE(g.inc, 0.0) AS rank "
            f"FROM sv LEFT JOIN ({gather.format(prev=f'tr{i}')}) g ON sv.id = g.id)"
        )
    return ",\n".join(parts) + (
        f"\nSELECT u.id, ROUND(u.rank, 8) AS pr, ROUND(t.rank, 8) AS tr, "
        f"ROUND((u.rank - t.rank)/u.rank, 8) AS spam_mass "
        f"FROM ur{k} u JOIN tr{k} t ON u.id = t.id"
    )


_REDIR_MOD = 997  # functional-graph residue ring for the redirect table


def _redirect_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic functional graph: src = o_orderkey % 997 (only
    non-multiples of 3 redirect — the rest are terminals), dst = min of
    the affine image (functional by the min-collapse)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            (F.col("o_orderkey") % _REDIR_MOD).cast("long").alias("src"),
            ((F.col("o_orderkey") * 31 + 7) % _REDIR_MOD).cast("long").alias("dst"),
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("src") % 3 != 0))
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
    )


def _q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-doubling redirect resolution (graph/chains.py): O(log L)
    self-join rounds; loops flagged is_cycle, terminals carry exact
    hops. Oracle: recursive CTE walking each chain with an n-hop cap."""
    from plwordnet_spark.graph.chains import resolve_chains

    res = resolve_chains(spark, _redirect_table(spark, sf_dir))
    return res.state.select("src", "final_dst", "hops", "is_cycle")


def _redirect_oracle_sql() -> str:
    return f"""
        WITH RECURSIVE redirects AS MATERIALIZED (
            SELECT src, MIN(dst) AS dst FROM (
                SELECT CAST(o_orderkey % {_REDIR_MOD} AS BIGINT) AS src,
                       CAST((o_orderkey * 31 + 7) % {_REDIR_MOD} AS BIGINT) AS dst
                FROM orders
            ) WHERE src <> dst AND src % 3 <> 0
            GROUP BY src
        ),
        nred AS MATERIALIZED (SELECT count(*) AS n FROM redirects),
        walk(src, cur, hops) AS (
            SELECT src, dst, CAST(1 AS BIGINT) FROM redirects
            UNION ALL
            SELECT w.src, r.dst, w.hops + 1
            FROM walk w JOIN redirects r ON w.cur = r.src
            WHERE w.hops <= (SELECT n FROM nred)
        ),
        term AS (
            SELECT w.src, w.cur AS final_dst, w.hops
            FROM walk w LEFT JOIN redirects r2 ON w.cur = r2.src
            WHERE r2.src IS NULL
        )
        SELECT r.src, t.final_dst, t.hops, t.src IS NULL AS is_cycle
        FROM redirects r LEFT JOIN term t ON r.src = t.src
    """


def _q_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-term profile (graph/anchors.py): anchor text =
    part names riding the lineitem link table (the real pipeline gets
    (dst, anchor) from build_anchor_table's Arrow extraction — pytest
    covers that path; this query oracle-checks the aggregation)."""
    from plwordnet_spark.graph.anchors import anchor_term_topk

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    pairs = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        (F.col("l_partkey") % 211).cast("long").alias("dst"),
        F.col("p_name").alias("anchor"),
    )
    return anchor_term_topk(pairs, top_k=3, dst_col="dst", anchor_col="anchor")


_ANCHOR_ORACLE_SQL = r"""
    WITH terms AS (
        SELECT dst, term FROM (
            SELECT CAST(l_partkey % 211 AS BIGINT) AS dst,
                   unnest(regexp_split_to_array(trim(lower(p_name)), '\s+')) AS term
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ) WHERE length(term) > 0
    ),
    counts AS (
        SELECT dst, term, CAST(count(*) AS BIGINT) AS n
        FROM terms GROUP BY dst, term
    )
    SELECT dst, term, n, rank FROM (
        SELECT dst, term, n,
               CAST(row_number() OVER (
                   PARTITION BY dst ORDER BY n DESC, term
               ) AS INTEGER) AS rank
        FROM counts
    ) WHERE rank <= 3
"""


def _q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation strength (graph/cocitation.py) on the sparse
    struct-edges graph; two-path self-join through the shared SOURCE."""
    from plwordnet_spark.graph.cocitation import cocitation

    return cocitation(_struct_edges(spark, sf_dir), max_fanout=None)


def _q_bib_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic coupling (graph/cocitation.py): src pairs sharing
    out-targets, two-path join through the shared TARGET."""
    from plwordnet_spark.graph.cocitation import bibliographic_coupling

    return bibliographic_coupling(_struct_edges(spark, sf_dir), max_fanout=None)


def _two_path_oracle_sql(pivot: str, leaf: str) -> str:
    return f"""
        WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL}),
        pl AS MATERIALIZED (SELECT DISTINCT {pivot} AS p, {leaf} AS leaf FROM edges)
        SELECT x.leaf AS a, y.leaf AS b, CAST(count(*) AS BIGINT) AS strength
        FROM pl x JOIN pl y ON x.p = y.p AND x.leaf < y.leaf
        GROUP BY x.leaf, y.leaf
    """


_MODULARITY_COMM_MOD = 5  # deterministic test partition: community = id % 5


def _q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (graph/stats.py) of the id%5 partition over the
    derived graph — the community-quality gate for LPA/CC outputs."""
    from plwordnet_spark.graph.stats import modularity

    edges = _derived_edges(spark, sf_dir)
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comm = ids.select("id", (F.col("id") % _MODULARITY_COMM_MOD).alias("community"))
    res = modularity(edges, comm)
    return res.select(F.round("modularity", 8).alias("modularity"))


_MODULARITY_ORACLE_SQL = f"""
    WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION}),
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM und),
    intra AS (
        SELECT CAST(count(*) AS DOUBLE) AS i FROM und
        WHERE a % {_MODULARITY_COMM_MOD} = b % {_MODULARITY_COMM_MOD}
    ),
    deg AS (
        SELECT c, CAST(count(*) AS DOUBLE) AS d FROM (
            SELECT a % {_MODULARITY_COMM_MOD} AS c FROM und
            UNION ALL
            SELECT b % {_MODULARITY_COMM_MOD} AS c FROM und
        ) GROUP BY c
    ),
    ss AS (
        SELECT SUM(POW(d / (2.0 * (SELECT m FROM m)), 2)) AS s FROM deg
    )
    SELECT ROUND(
        (SELECT i FROM intra) / (SELECT m FROM m) - (SELECT s FROM ss), 8
    ) AS modularity
"""


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix (temporal.py) over the events
    log — cohort = user's first active ISO week."""
    from plwordnet_spark.temporal import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), period="week")


_COHORT_ORACLE_SQL = """
    WITH active AS MATERIALIZED (
        -- duckdb's date_trunc('week') yields DATE; Spark's yields
        -- TIMESTAMP — cast for stringified-hash parity
        SELECT DISTINCT user_id AS u,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS p
        FROM events
    ),
    first AS MATERIALIZED (
        SELECT u, MIN(p) AS cohort_start FROM active GROUP BY u
    )
    SELECT cohort_start,
           CAST(date_diff('day', cohort_start, p) / 7 AS INTEGER) AS period_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active JOIN first USING (u)
    GROUP BY cohort_start, period_offset
"""


_SALSA_ITERS = 12


def _q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA authorities+hubs (graph/salsa.py) on the sparse struct
    graph, fixed-k; oracle unrolls the same degree-normalized
    back-forward walk in SQL."""
    from plwordnet_spark.graph.salsa import salsa

    res = salsa(spark, _struct_edges(spark, sf_dir), tol=0.0, max_iterations=_SALSA_ITERS)
    return res.state.select(
        "id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def _salsa_oracle_sql(k: int = _SALSA_ITERS) -> str:
    """Unrolled fixed-k SALSA: per iteration each chain does two
    degree-normalized gathers + an L1 normalize — same float op order
    as graph/salsa.py (inverse degrees computed once, multiplied per
    row). AS MATERIALIZED per the _pagerank_oracle_sql precedent."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL})",
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids)",
        "outd AS MATERIALIZED (SELECT src AS id, 1.0/count(*) AS inv FROM edges GROUP BY src)",
        "ind AS MATERIALIZED (SELECT dst AS id, 1.0/count(*) AS inv FROM edges GROUP BY dst)",
        "a0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS a FROM ids)",
        "h0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS h FROM ids)",
    ]
    for i in range(k):
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT e.src AS id, SUM(x.a * ii.inv) AS b "
            f"FROM edges e JOIN a{i} x ON x.id = e.dst "
            f"JOIN ind ii ON ii.id = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT i.id, COALESCE(g.s, 0.0) AS a "
            f"FROM ids i LEFT JOIN (SELECT e.dst AS id, SUM(b.b * o.inv) AS s "
            f"FROM edges e JOIN b{i} b ON b.id = e.src "
            f"JOIN outd o ON o.id = e.src GROUP BY e.dst) g ON i.id = g.id)"
        )
        parts.append(f"an{i} AS MATERIALIZED (SELECT SUM(ABS(a)) AS n FROM ar{i})")
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT n FROM an{i}) > 0 "
            f"THEN a/(SELECT n FROM an{i}) ELSE 0.0 END AS a FROM ar{i})"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(x.h * o.inv) AS c "
            f"FROM edges e JOIN h{i} x ON x.id = e.src "
            f"JOIN outd o ON o.id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT i.id, COALESCE(g.s, 0.0) AS h "
            f"FROM ids i LEFT JOIN (SELECT e.src AS id, SUM(c.c * ii.inv) AS s "
            f"FROM edges e JOIN c{i} c ON c.id = e.dst "
            f"JOIN ind ii ON ii.id = e.dst GROUP BY e.src) g ON i.id = g.id)"
        )
        parts.append(f"hn{i} AS MATERIALIZED (SELECT SUM(ABS(h)) AS n FROM hr{i})")
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT n FROM hn{i}) > 0 "
            f"THEN h/(SELECT n FROM hn{i}) ELSE 0.0 END AS h FROM hr{i})"
        )
    return ",\n".join(parts) + (
        f"\nSELECT a.id, ROUND(a.a, 6) AS authority, ROUND(h.h, 6) AS hub "
        f"FROM a{k} a JOIN h{k} h ON a.id = h.id"
    )


_BACKLINK_HOST_MOD = 13  # pseudo-host of node id = 'h' || id % 13


def _q_backlink_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlink host diversity (graph/hostgraph.py): per dst, in-link
    count vs distinct source hosts — the link-farm triage stat."""
    from plwordnet_spark.graph.hostgraph import backlink_diversity

    edges = _derived_edges(spark, sf_dir)
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    hosts = ids.select(
        "id",
        F.concat(
            F.lit("h"), (F.col("id") % _BACKLINK_HOST_MOD).cast("string")
        ).alias("host"),
    )
    return backlink_diversity(edges, hosts)


_BACKLINK_ORACLE_SQL = f"""
    WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})
    SELECT dst,
           CAST(count(*) AS BIGINT) AS n_backlinks,
           CAST(count(DISTINCT src % {_BACKLINK_HOST_MOD}) AS BIGINT) AS n_src_hosts,
           CAST(count(DISTINCT src % {_BACKLINK_HOST_MOD}) AS DOUBLE) / count(*)
               AS host_diversity
    FROM edges GROUP BY dst
"""


def _q_attributed_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-join click attribution (streaming/joins.py, batch form;
    the streaming form is stream==batch parity-tested)."""
    from plwordnet_spark.streaming.joins import attributed_clicks

    return attributed_clicks(_t(spark, sf_dir, "events"), window="30 minutes")


_ATTRIBUTION_ORACLE_SQL = """
    SELECT i.user_id, i.event_id AS imp_id, i.ts AS imp_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events i JOIN events c
      ON i.user_id = c.user_id
     AND i.event_type = 'view' AND c.event_type = 'click'
     AND i.ts <= c.ts AND c.ts < i.ts + INTERVAL 30 MINUTE
"""


_EIG_ITERS = 20


def _q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (graph/centrality.py) fixed-k on the
    derived graph; oracle unrolls the same gather + L2 normalize."""
    from plwordnet_spark.graph.centrality import eigenvector_centrality

    res = eigenvector_centrality(
        spark, _derived_edges(spark, sf_dir), tol=0.0, max_iterations=_EIG_ITERS
    )
    return res.state.select("id", F.round("score", 8).alias("score"))


def _eigenvector_oracle_sql(k: int = _EIG_ITERS) -> str:
    parts = [
        f"WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "ids AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids)",
        "x0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS score FROM ids)",
    ]
    for i in range(k):
        parts.append(
            f"er{i} AS MATERIALIZED (SELECT i.id, COALESCE(g.s, 0.0) AS raw "
            f"FROM ids i LEFT JOIN (SELECT e.dst AS id, SUM(x.score * 1.0) AS s "
            f"FROM edges e JOIN x{i} x ON x.id = e.src GROUP BY e.dst) g "
            f"ON i.id = g.id)"
        )
        parts.append(
            f"en{i} AS MATERIALIZED (SELECT sqrt(SUM(raw*raw)) AS n FROM er{i})"
        )
        parts.append(
            f"x{i + 1} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT n FROM en{i}) > 0 "
            f"THEN raw/(SELECT n FROM en{i}) ELSE 0.0 END AS score FROM er{i})"
        )
    return ",\n".join(parts) + (
        f"\nSELECT id, ROUND(score, 8) AS score FROM x{k}"
    )


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction (from_json with an explicit schema — the
    semi-structured column surface) + per-type rollup of the parsed
    field."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


_JSON_PROPS_ORACLE_SQL = r"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(AVG(k), 6) AS avg_k,
           MAX(k) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    ) GROUP BY event_type
"""


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL feature extraction via Spark's parse_url (JVM-side, stays in
    codegen): host / path / depth / query param — the crawl-frontier
    featurization columns. URLs synthesized deterministically from
    documents; the oracle recomputes the same features with portable
    string ops."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?ref=r"), (F.col("doc_id") % 3).cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        path.alias("path"),
        (F.size(F.split(path, "/")) - 1).alias("path_depth"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


_URL_FEATURES_ORACLE_SQL = """
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.com/' || lang || '/doc/'
                   || CAST(doc_id AS VARCHAR) || '?ref=r'
                   || CAST(doc_id % 3 AS VARCHAR) AS url
        FROM documents
    ),
    parts AS (
        SELECT doc_id, url,
               split_part(split_part(url, '//', 2), '/', 1) AS host,
               split_part(url, '?', 1) AS no_query
        FROM u
    )
    SELECT doc_id, url, host,
           substr(no_query, 9 + length(host)) AS path,
           CAST(length(substr(no_query, 9 + length(host)))
                - length(replace(substr(no_query, 9 + length(host)), '/', ''))
                AS INTEGER) AS path_depth,
           split_part(split_part(url, 'ref=', 2), '&', 1) AS ref_param
    FROM parts
"""


def _q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness from the deterministic id%13 source sample
    (graph.centrality.betweenness_centrality): forward σ-BFS + backward
    δ accumulation, both on the composite (source, node) key. Oracle is
    the same recursion unrolled to depth 8 as materialized CTEs."""
    from plwordnet_spark.graph.centrality import betweenness_centrality

    edges = _derived_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    srcs = nodes.filter(F.col("id") % 13 == 0)
    res = betweenness_centrality(spark, edges, sources=srcs, directed=True)
    return res.select("id", F.round("betweenness", 4).alias("betweenness"))


def _betweenness_oracle(depth: int = 8) -> str:
    """Unrolled Brandes for DuckDB: forward level/σ chain then backward
    δ chain, every CTE MATERIALIZED (the memory gotcha: DuckDB re-expands
    non-materialized CTEs exponentially in chains like this)."""
    ctes = [
        f"edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "lvl0 AS MATERIALIZED (SELECT id AS s, id,"
        " CAST(1 AS DOUBLE) AS sigma FROM nodes WHERE id % 13 = 0)",
        "seen0 AS MATERIALIZED (SELECT s, id FROM lvl0)",
    ]
    for L in range(1, depth + 1):
        ctes.append(f"""lvl{L} AS MATERIALIZED (
            SELECT p.s, e.dst AS id, SUM(p.sigma) AS sigma
            FROM lvl{L - 1} p JOIN edges e ON e.src = p.id
            LEFT JOIN seen{L - 1} sn ON sn.s = p.s AND sn.id = e.dst
            WHERE sn.id IS NULL
            GROUP BY p.s, e.dst)""")
        ctes.append(
            f"seen{L} AS MATERIALIZED (SELECT s, id FROM seen{L - 1}"
            f" UNION ALL SELECT s, id FROM lvl{L})"
        )
    ctes.append(
        f"d{depth} AS MATERIALIZED (SELECT s, id,"
        f" CAST(0 AS DOUBLE) AS delta FROM lvl{depth})"
    )
    for L in range(depth - 1, 0, -1):
        ctes.append(f"""d{L} AS MATERIALIZED (
            SELECT v.s, v.id,
                   COALESCE(SUM(v.sigma / w.sigma
                                * (1.0 + COALESCE(dw.delta, 0.0))), 0.0) AS delta
            FROM lvl{L} v
            LEFT JOIN edges e ON e.src = v.id
            LEFT JOIN lvl{L + 1} w ON w.s = v.s AND w.id = e.dst
            LEFT JOIN d{L + 1} dw ON dw.s = v.s AND dw.id = e.dst
            GROUP BY v.s, v.id)""")
    union = " UNION ALL ".join(
        f"SELECT id, delta FROM d{L}" for L in range(1, depth + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    alldelta AS (SELECT id, delta FROM ({union}))
    SELECT n.id, ROUND(COALESCE(SUM(a.delta), 0.0), 4) AS betweenness
    FROM nodes n LEFT JOIN alldelta a ON a.id = n.id
    GROUP BY n.id"""
    )


def _q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby MIS (graph.mis.maximal_independent_set) on the
    derived graph; the oracle replays the identical mod-P congruential
    priorities round-for-round (12 unrolled rounds ≥ observed
    convergence), with the (p, id) struct order expressed as the
    combined key p·2^21 + id (exact for ids < 2^21)."""
    from plwordnet_spark.graph.mis import maximal_independent_set

    return maximal_independent_set(spark, _derived_edges(spark, sf_dir))


def _mis_oracle(rounds: int = 12, seed: int = 17) -> str:
    from plwordnet_spark.graph.mis import MIS_A, MIS_B, MIS_P

    ctes = [
        f"dedges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM dedges WHERE src <> dst"
        " UNION SELECT dst, src FROM dedges WHERE src <> dst)",
        "act0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM dedges"
        " UNION SELECT DISTINCT dst FROM dedges)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"prio{r} AS MATERIALIZED (SELECT id,"
            f" ((id % {MIS_P}) * {MIS_A} + {r * MIS_B + seed}) % {MIS_P} AS p"
            f" FROM act{r - 1})"
        )
        ctes.append(f"""nmin{r} AS MATERIALIZED (
            SELECT e.u AS id, MIN(p2.p * 2097152 + p2.id) AS nbest
            FROM sym e
            JOIN prio{r} p1 ON p1.id = e.u
            JOIN prio{r} p2 ON p2.id = e.v
            GROUP BY e.u)""")
        ctes.append(f"""win{r} AS MATERIALIZED (
            SELECT pr.id, CAST({r} AS INTEGER) AS mis_round
            FROM prio{r} pr LEFT JOIN nmin{r} nm ON nm.id = pr.id
            WHERE nm.nbest IS NULL OR pr.p * 2097152 + pr.id < nm.nbest)""")
        ctes.append(f"""act{r} AS MATERIALIZED (
            SELECT id FROM act{r - 1}
            EXCEPT SELECT id FROM win{r}
            EXCEPT SELECT DISTINCT e.v FROM sym e JOIN win{r} w ON w.id = e.u)""")
    union = " UNION ALL ".join(
        f"SELECT id, mis_round FROM win{r}" for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + f" {union}"


def _q_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby-style maximal matching
    (graph.matching.maximal_matching) on the derived graph; the oracle
    replays the identical per-edge congruential priorities for 30
    unrolled rounds (>= the 24-round worst case observed across SFs;
    post-convergence rounds are empty), with the (p, u, v) struct order
    encoded as p*65536 + u*256 + v (exact for ids < 211 < 256)."""
    from plwordnet_spark.graph.matching import maximal_matching

    return maximal_matching(spark, _derived_edges(spark, sf_dir))


def _matching_oracle(rounds: int = 30, seed: int = 17) -> str:
    from plwordnet_spark.graph.matching import MATCH_A, MATCH_B, MATCH_B2, MATCH_P

    ctes = [
        f"dedges AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        "mact0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u,"
        " GREATEST(src, dst) AS v FROM dedges WHERE src <> dst)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"mpr{r} AS MATERIALIZED (SELECT u, v,"
            f" ((u % {MATCH_P}) * {MATCH_A} + (v % {MATCH_P}) * {MATCH_B2}"
            f" + {r * MATCH_B + seed}) % {MATCH_P} AS p FROM mact{r - 1})"
        )
        ctes.append(f"""minc{r} AS MATERIALIZED (
            SELECT node, MIN(p * 65536 + u * 256 + v) AS best
            FROM (SELECT u AS node, p, u, v FROM mpr{r}
                  UNION ALL SELECT v, p, u, v FROM mpr{r})
            GROUP BY node)""")
        ctes.append(f"""mwin{r} AS MATERIALIZED (
            SELECT pr.u, pr.v, CAST({r} AS INTEGER) AS match_round
            FROM mpr{r} pr
            JOIN minc{r} bu ON bu.node = pr.u
            JOIN minc{r} bv ON bv.node = pr.v
            WHERE pr.p * 65536 + pr.u * 256 + pr.v = bu.best
              AND pr.p * 65536 + pr.u * 256 + pr.v = bv.best)""")
        ctes.append(f"""mact{r} AS MATERIALIZED (
            SELECT u, v FROM mact{r - 1}
            WHERE u NOT IN (SELECT u FROM mwin{r} UNION SELECT v FROM mwin{r})
              AND v NOT IN (SELECT u FROM mwin{r} UNION SELECT v FROM mwin{r}))""")
    union = " UNION ALL ".join(
        f"SELECT u, v, match_round FROM mwin{r}" for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + f" {union}"


_SAMPLE_RATES = {"en": 0.3, "zh": 0.8, "es": 0.5}


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixture sampling
    (textops.sampling.stratified_sample): keep iff the portable
    congruential draw on doc_id is under floor(rate*P); the oracle
    compares against the identical int64 thresholds."""
    from plwordnet_spark.textops.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), _SAMPLE_RATES, default_rate=1.0
    ).select("doc_id", "lang")


def _stratified_sample_oracle(seed: int = 0) -> str:
    from plwordnet_spark.textops.sampling import SAMPLE_A, SAMPLE_B, SAMPLE_P

    cases = " ".join(
        f"WHEN '{k}' THEN {int(v * SAMPLE_P)}" for k, v in sorted(_SAMPLE_RATES.items())
    )
    return f"""
        SELECT doc_id, lang FROM documents
        WHERE ((doc_id % {SAMPLE_P}) * {SAMPLE_A} + {SAMPLE_B + seed}) % {SAMPLE_P}
              < CASE lang {cases} ELSE {SAMPLE_P} END
    """


# the documents table has no newlines, so the line-dedup contract query
# derives deterministic pseudo-lines first: 3-token chunks joined by \n
# (22 chunk-lines repeat >=5x at sf0.01 — a real, non-degenerate removal)
_CHUNK_TOKENS = 3
_LINE_MIN_COUNT = 5


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document repeated-line removal
    (textops.lines.line_dedup): chunk each document into 3-token
    pseudo-lines, drop every line occurring >=5 times corpus-wide,
    re-assemble survivors in original order."""
    from plwordnet_spark.textops.lines import line_dedup

    k = _CHUNK_TOKENS
    docs2 = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "array_join(transform(sequence(0,"
        f" cast(ceil(size(split(text, ' ')) / {k}.0) as int) - 1),"
        f" i -> array_join(slice(split(text, ' '), i * {k} + 1, {k}), ' ')),"
        " '\\n') AS text",
    )
    return line_dedup(docs2, min_count=_LINE_MIN_COUNT)


def _q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-template detection (textops/lines.py host_boilerplate_lines):
    pseudo-lines (3-token chunks, the q_line_dedup convention) present
    on >= 8% of a host's pages (>= 2 of this table's 25-page hosts) —
    per-SITE boilerplate the corpus-global
    histogram can't see; host = document source."""
    from plwordnet_spark.textops.lines import host_boilerplate_lines

    k = _CHUNK_TOKENS
    docs2 = _t(spark, sf_dir, "documents").selectExpr(
        "source",
        "doc_id",
        "array_join(transform(sequence(0,"
        f" cast(ceil(size(split(text, ' ')) / {k}.0) as int) - 1),"
        f" i -> array_join(slice(split(text, ' '), i * {k} + 1, {k}), ' ')),"
        " '\\n') AS text",
    )
    return host_boilerplate_lines(
        docs2, min_frac=0.08, min_pages=5, host_col="source"
    )


def _host_boilerplate_oracle() -> str:
    k = _CHUNK_TOKENS
    return f"""
        WITH base AS (SELECT source, doc_id, string_split(text, ' ') AS toks
                      FROM documents),
        ch AS (
            SELECT DISTINCT base.source AS host, base.doc_id,
                   array_to_string(
                       base.toks[gs.i * {k} + 1 : gs.i * {k} + {k}], ' ') AS line
            FROM base, UNNEST(generate_series(
                0, CAST(ceil(len(base.toks) / {k}.0) AS BIGINT) - 1)) AS gs(i)
        ),
        hp AS (SELECT source AS host, CAST(count(*) AS BIGINT) AS host_pages
               FROM documents GROUP BY source),
        pl AS (SELECT host, line, CAST(count(*) AS BIGINT) AS n_pages
               FROM ch GROUP BY host, line)
        SELECT pl.host, pl.line, pl.n_pages, hp.host_pages,
               ROUND(pl.n_pages * 1.0 / hp.host_pages, 6) AS frac
        FROM pl JOIN hp USING (host)
        WHERE hp.host_pages >= 5
          AND pl.n_pages >= hp.host_pages * CAST(0.08 AS DOUBLE)
    """


def _strip_boilerplate_oracle() -> str:
    k = _CHUNK_TOKENS
    return f"""
        WITH base AS (SELECT source, doc_id, string_split(text, ' ') AS toks
                      FROM documents),
        ch AS (
            SELECT base.source AS host, base.doc_id, gs.i AS pos,
                   array_to_string(
                       base.toks[gs.i * {k} + 1 : gs.i * {k} + {k}], ' ') AS line
            FROM base, UNNEST(generate_series(
                0, CAST(ceil(len(base.toks) / {k}.0) AS BIGINT) - 1)) AS gs(i)
        ),
        hp AS (SELECT source AS host, CAST(count(*) AS BIGINT) AS host_pages
               FROM documents GROUP BY source),
        pl AS (SELECT host, line, CAST(count(*) AS BIGINT) AS n_pages
               FROM (SELECT DISTINCT host, doc_id, line FROM ch)
               GROUP BY host, line),
        tpl AS (
            SELECT pl.host, pl.line FROM pl JOIN hp USING (host)
            WHERE hp.host_pages >= 5
              AND pl.n_pages >= hp.host_pages * CAST(0.08 AS DOUBLE)
        )
        SELECT ch.host AS source, ch.doc_id,
               string_agg(ch.line, chr(10) ORDER BY ch.pos) AS text
        FROM ch
        WHERE NOT EXISTS (
            SELECT 1 FROM tpl
            WHERE tpl.host = ch.host AND tpl.line = ch.line
        )
        GROUP BY ch.host, ch.doc_id
    """


def _cms_oracle_sql(width: int = 32, depth: int = 3) -> str:
    from plwordnet_spark.sketches import CMS_P, DEPTH_SEEDS

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(DEPTH_SEEDS[:depth])
    )
    return f"""
        WITH seeds AS (SELECT * FROM (VALUES {vals}) AS t(i, a, b)),
        ev AS (SELECT user_id FROM events),
        h AS (
            SELECT e.user_id, s.i,
                   ((e.user_id % {CMS_P}) * s.a + s.b) % {CMS_P} % {width}
                       AS slot
            FROM ev e CROSS JOIN seeds s
        ),
        counters AS (
            SELECT i, slot, CAST(count(*) AS BIGINT) AS c
            FROM h GROUP BY i, slot
        ),
        keys AS (SELECT DISTINCT user_id FROM ev),
        kh AS (
            SELECT k.user_id, s.i,
                   ((k.user_id % {CMS_P}) * s.a + s.b) % {CMS_P} % {width}
                       AS slot
            FROM keys k CROSS JOIN seeds s
        ),
        est AS (
            SELECT kh.user_id, MIN(COALESCE(c.c, 0)) AS est
            FROM kh LEFT JOIN counters c ON c.i = kh.i AND c.slot = kh.slot
            GROUP BY kh.user_id
        ),
        exact AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS exact
            FROM ev GROUP BY user_id
        )
        SELECT exact.user_id, exact.exact, est.est
        FROM exact JOIN est ON est.user_id = exact.user_id
    """


def _line_dedup_oracle() -> str:
    k = _CHUNK_TOKENS
    return f"""
        WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        ch AS (
            SELECT base.doc_id, gs.i AS pos,
                   array_to_string(base.toks[gs.i * {k} + 1 : gs.i * {k} + {k}], ' ') AS line
            FROM base, UNNEST(generate_series(
                0, CAST(ceil(len(base.toks) / {k}.0) AS BIGINT) - 1)) AS gs(i)
        ),
        bad AS (SELECT line FROM ch GROUP BY line HAVING COUNT(*) >= {_LINE_MIN_COUNT})
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        FROM ch WHERE line NOT IN (SELECT line FROM bad)
        GROUP BY doc_id
    """


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination
    (textops.contamination.ngram_contamination): docs with
    doc_id %% 97 == 0 stand in for the held-out eval set; every other
    document reports its distinct-bigram overlap with that set."""
    from plwordnet_spark.textops.contamination import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return ngram_contamination(corpus, bench, n=2)


def _contamination_oracle(n: int = 2) -> str:
    return f"""
        WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        dg AS (
            SELECT DISTINCT base.doc_id,
                   array_to_string(base.toks[gs.i + 1 : gs.i + {n}], ' ') AS g
            FROM base, UNNEST(generate_series(0, len(base.toks) - {n})) AS gs(i)
            WHERE base.doc_id % 97 <> 0
        ),
        bg AS (
            SELECT DISTINCT array_to_string(base.toks[gs.i + 1 : gs.i + {n}], ' ') AS g
            FROM base, UNNEST(generate_series(0, len(base.toks) - {n})) AS gs(i)
            WHERE base.doc_id % 97 = 0
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_ngrams,
                   COUNT(*) FILTER (WHERE g IN (SELECT g FROM bg)) AS n_hit
            FROM dg GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(n_ngrams, 0) AS n_ngrams,
               COALESCE(n_hit, 0) AS n_hit,
               CASE WHEN COALESCE(n_ngrams, 0) = 0 THEN 0.0
                    ELSE ROUND(n_hit * 1.0 / n_ngrams, 6) END AS contamination
        FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        LEFT JOIN agg USING (doc_id)
    """


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher within-document repetition signals
    (textops.repetition.repetition_features): duplicate-token and
    duplicate-n-gram character fractions per document. The synthetic
    docs are single-line, so ``line_delim=' '`` makes each token a
    'line' and exercises the line-duplication metrics too."""
    from plwordnet_spark.textops.repetition import repetition_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_features(
        docs, top_ns=(2,), dup_ns=(3,), line_delim=" "
    ).select(
        "doc_id",
        "dup_line_frac",
        "dup_line_char_frac",
        "top_2gram_char_frac",
        "dup_3gram_char_frac",
    )


def _repetition_oracle() -> str:
    return """
        WITH base AS (
            SELECT doc_id, length(text) AS total,
                   list_filter(string_split(text, ' '), l -> len(l) > 0) AS toks
            FROM documents
        ),
        lineagg AS (
            SELECT doc_id, total, len(toks) AS n_lines,
                   len(list_distinct(toks)) AS n_distinct,
                   list_sum(list_transform(toks, l -> len(l))) AS line_chars,
                   list_sum(list_transform(list_distinct(toks), l -> len(l)))
                       AS distinct_line_chars
            FROM base
        ),
        g2 AS (
            SELECT base.doc_id,
                   array_to_string(base.toks[gs.i + 1 : gs.i + 2], ' ') AS g
            FROM base, UNNEST(generate_series(0, len(base.toks) - 2)) AS gs(i)
        ),
        c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        top2 AS (
            SELECT doc_id, c * len(g) AS chars
            FROM (SELECT doc_id, g, c,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY c DESC, g ASC) AS rn
                  FROM c2)
            WHERE rn = 1
        ),
        g3 AS (
            SELECT base.doc_id,
                   array_to_string(base.toks[gs.i + 1 : gs.i + 3], ' ') AS g
            FROM base, UNNEST(generate_series(0, len(base.toks) - 3)) AS gs(i)
        ),
        dup3 AS (
            SELECT doc_id, SUM(chars) AS chars FROM (
                SELECT doc_id, COUNT(*) * len(g) AS chars
                FROM g3 GROUP BY doc_id, g HAVING COUNT(*) >= 2
            ) GROUP BY doc_id
        )
        SELECT l.doc_id,
               ROUND(CASE WHEN l.n_lines > 0
                     THEN (l.n_lines - l.n_distinct) * 1.0 / l.n_lines
                     ELSE 0.0 END, 6) AS dup_line_frac,
               ROUND(CASE WHEN l.total > 0
                     THEN (l.line_chars - l.distinct_line_chars) * 1.0 / l.total
                     ELSE 0.0 END, 6) AS dup_line_char_frac,
               ROUND(CASE WHEN l.total > 0
                     THEN COALESCE(t.chars, 0) * 1.0 / l.total
                     ELSE 0.0 END, 6) AS top_2gram_char_frac,
               ROUND(CASE WHEN l.total > 0
                     THEN COALESCE(d.chars, 0) * 1.0 / l.total
                     ELSE 0.0 END, 6) AS dup_3gram_char_frac
        FROM lineagg l
        LEFT JOIN top2 t USING (doc_id)
        LEFT JOIN dup3 d USING (doc_id)
    """


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (textops.dedup.
    ngram_containment_pairs): catches quote-and-extend / wrapper pages
    Jaccard misses; max_df effectively disabled so the oracle is exact."""
    from plwordnet_spark.textops.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_containment_pairs(
        docs, threshold=0.6, max_df=1_000_000
    ).select(
        "id_a",
        "id_b",
        F.round("cont_a", 4).alias("cont_a"),
        F.round("cont_b", 4).alias("cont_b"),
    )


def _q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence lift (behavior.cooccurrence_lift) on
    order baskets with part-family items (l_partkey % 50)."""
    from plwordnet_spark.behavior import cooccurrence_lift

    baskets = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket_id"),
        (F.col("l_partkey") % 50).cast("long").alias("item"),
    )
    return cooccurrence_lift(baskets, min_pairs=2).select(
        "item_a", "item_b", "n_ab", F.round("lift", 6).alias("lift")
    )


def _q_sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k deterministic per-language sample
    (textops.sampling.sample_per_stratum): k smallest portable
    congruential draws per stratum, ties by id."""
    from plwordnet_spark.textops.sampling import sample_per_stratum

    return sample_per_stratum(_t(spark, sf_dir, "documents"), 20).select(
        "doc_id", "lang"
    )


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirtes weighted sample without replacement, 15 docs
    per language weighted by n_chars (textops.sampling
    .weighted_sample_per_stratum) — quality-weighted corpus
    subsampling; membership is a pure function of (id, weight, seed)."""
    from plwordnet_spark.textops.sampling import weighted_sample_per_stratum

    return weighted_sample_per_stratum(
        _t(spark, sf_dir, "documents"), 15, weight_col="n_chars"
    ).select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def _q_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop-plot / neighborhood function N(h) over the derived
    graph (graph.stats.hop_histogram): the exact complement of the
    q_anf_hll sketch — all-sources composite BFS, histogram-sized
    output, cumulative fraction for effective-diameter reads."""
    from plwordnet_spark.graph.stats import hop_histogram

    edges = _derived_edges(spark, sf_dir)
    return hop_histogram(spark, edges, directed=False)


def _weighted_sample_oracle(k: int = 15, seed: int = 0) -> str:
    from plwordnet_spark.textops.sampling import SAMPLE_A, SAMPLE_B, SAMPLE_P

    return f"""
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
            SELECT doc_id, lang, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY ln(CAST(((doc_id % {SAMPLE_P}) * {SAMPLE_A}
                                  + {SAMPLE_B + seed}) % {SAMPLE_P} + 1 AS DOUBLE)
                                  / {float(SAMPLE_P + 1)})
                                / CAST(n_chars AS DOUBLE) DESC,
                            doc_id
                   ) AS rn
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        ) WHERE rn <= {k}
    """


def _q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest (graph/msf.py) over the derived
    graph with injective congruential weights — distinct weights make
    the MSF unique, so the oracle's own Borůvka replay must produce the
    identical edge set regardless of float/iteration details."""
    from plwordnet_spark.graph.msf import minimum_spanning_forest

    und = (
        _derived_edges(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    wed = und.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        (
            (F.col("a") * 211 + F.col("b")) * F.lit(1103515245)
            % F.lit(2147483647)
        ).alias("w"),
    )
    msf = minimum_spanning_forest(spark, wed)
    return msf.select("a", "b", F.col("w").cast("long").alias("w"))


def _q_vertex_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-approx minimum vertex cover = endpoints of the deterministic
    maximal matching (graph.matching.vertex_cover) — oracle wraps the
    30-round matching replay and explodes endpoints."""
    from plwordnet_spark.graph.matching import vertex_cover

    return vertex_cover(spark, _derived_edges(spark, sf_dir))


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl-frontier schedule (frontier.py): slot =
    per-host rank by (priority desc, url), fetcher = congruential hash
    of the host's min doc_id; URLs synthesized as in q_url_features,
    priority = n_chars, 40-URL megasite cap."""
    from plwordnet_spark.frontier import schedule_frontier

    d = _t(spark, sf_dir, "documents")
    fr = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.col("n_chars").cast("long").alias("priority"),
    )
    return schedule_frontier(
        fr, n_fetchers=8, max_urls_per_host=40
    ).select("doc_id", "url", "host", "priority", "slot", "fetcher")


def _q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest-arrival reachability (graph/temporal.py)
    over a temporal contact graph derived from orders (edge exists at
    its order-date day number): from seeds {0,1,2} starting at day 2000,
    the earliest day each node can be reached following edges in
    non-decreasing time order — the crawl-freshness / influence-tracing
    primitive a static link graph cannot express."""
    from plwordnet_spark.graph.temporal import temporal_reachability

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 151).cast("long").alias("src"),
        (F.col("o_orderkey") % 151).cast("long").alias("dst"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1995-01-01"))
        ).cast("long").alias("t"),
    )
    res = temporal_reachability(spark, edges, [0, 1, 2], start_time=2000)
    return res.state


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2² − 3 of order totals per priority, computed from raw
    power sums (Σx..Σx⁴) so both engines run the IDENTICAL arithmetic —
    built-in skewness/kurtosis aggregates differ in bias convention
    across engines, which is exactly what a cross-engine contract must
    not depend on. One map-side-partial agg; no second pass."""
    o = _t(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * F.col("s2") / F.col("n") + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * F.col("s3") / F.col("n")
        + 6 * mu * mu * F.col("s2") / F.col("n")
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        F.round(mu, 4).alias("mean"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis"),
    )


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) codes (storage/zorder.py z_value_expr) over the
    quantized (custkey, orderkey) plane — the multi-dimensional
    clustering key write_zordered sorts by so parquet min/max stats
    skip row groups on BOTH dimensions (Delta/Iceberg OPTIMIZE ZORDER
    from first principles; layout evidence in BENCH/ZORDER.md +
    test_zorder.py's footer-stats comparison)."""
    from plwordnet_spark.storage.zorder import z_value_expr

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("x"),
        (F.col("o_orderkey") % 256).cast("long").alias("y"),
    )
    return o.select(
        "o_orderkey", "x", "y", z_value_expr(["x", "y"], bits=8).alias("z")
    )


def _zorder_oracle_sql(bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(((x >> {i}) & 1) << {i * 2})")
        terms.append(f"(((y >> {i}) & 1) << {i * 2 + 1})")
    z = " + ".join(terms)
    return f"""
        WITH q AS (
            SELECT o_orderkey,
                   CAST(o_custkey % 256 AS BIGINT) AS x,
                   CAST(o_orderkey % 256 AS BIGINT) AS y
            FROM orders
        )
        SELECT o_orderkey, x, y, CAST({z} AS BIGINT) AS z FROM q
    """


def _q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mC4/XLM-R temperature-sampled source mixture (textops/sampling.py
    mixture_weights): w_s ∝ n_s^0.3 over document sources,
    floor(w·budget) expected draws at budget 10k, repeat_factor > 1
    flags upsampling-induced duplication."""
    from plwordnet_spark.textops.sampling import mixture_weights

    return mixture_weights(
        _t(spark, sf_dir, "documents"), by="source", alpha=0.3, budget=10_000
    )


def _q_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-tree rollup: page counts under every URL path PREFIX at
    every depth (the site-map histogram a crawler budgets by —
    /en 25k pages, /en/doc 24k, ...). One codegen prefix-explode +
    one partial-agg count; prefixes per URL = its depth, so output is
    sitemap-sized, never corpus×depth."""
    d = _t(spark, sf_dir, "documents")
    parts = F.array(
        F.col("lang"),
        F.lit("doc"),
        (F.col("doc_id") % 10).cast("string"),
    )
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.concat(F.lit("/"), F.array_join(F.slice(parts, 1, i), "/")),
    )
    return (
        d.select(F.explode(prefixes).alias("prefix"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .withColumn(
            "depth", (F.size(F.split("prefix", "/")) - 1).cast("integer")
        )
    )


def _q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the declared lang column vs the
    n-gram heuristic classifier (textops/quality.py language_id_expr) —
    per (declared, predicted) page counts, the quality-eval table for
    any classifier gate. Pure column exprs + one histogram-sized agg."""
    from plwordnet_spark.textops.quality import language_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("declared"),
            language_id(F.col("text")).alias("predicted"),
        )
        .groupBy("declared", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_zipf_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus VOCABULARY (graph/stats.py
    powerlaw_alpha over the term-frequency histogram, d_min=3): natural
    text sits near alpha≈2 on this statistic; template spam and
    generator output drift — the corpus-level twin of the graph's
    degree exponent, same CSN continuous-MLE machinery."""
    from plwordnet_spark.graph.stats import powerlaw_alpha

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: F.length(w) > 0,
            )
        ).alias("term")
    )
    hist = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .groupBy("freq")
        .agg(F.count(F.lit(1)).alias("n_terms"))
    )
    return powerlaw_alpha(hist, value_col="freq", count_col="n_terms", d_min=3)


def _q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness gate: per-doc type-token ratio and hapax
    fraction — keyword-stuffed spam has low TTR, lorem-ipsum generators
    have near-1 hapax; returns the 50 least-rich documents. One
    tokenize pass, distinct-fold inside the doc grouping."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: F.length(w) > 0,
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_frac"),
        )
        .orderBy(F.asc("ttr"), F.asc("doc_id"))
        .limit(50)
    )


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (frontier.py canonical_url_expr): the
    pre-frontier dedup key. URLs synthesized with every rule's trigger
    — mixed-case scheme/host, www, default port, trailing slash,
    unsorted + tracking query params, fragment — and collapsed to the
    canonical form; zero-shuffle codegen string ops, oracle replays the
    rules with portable SQL."""
    from plwordnet_spark.frontier import canonical_url_expr

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/Doc/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z="), F.col("lang"),
        F.lit("&a="), (F.col("n_chars") % 7).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.select("doc_id", url.alias("url")).select(
        "doc_id", "url", canonical_url_expr(F.col("url")).alias("canonical")
    )


def _q_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-pair join (textops/dedup.py
    edit_distance_pairs) over distinct part names keyed by min partkey:
    the typo/mirror record-linkage primitive; q-gram blocking bounds
    the candidate set, JVM levenshtein scores survivors exactly."""
    from plwordnet_spark.textops.dedup import edit_distance_pairs

    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("key"))
        .select(F.col("key").alias("doc_id"), F.col("p_name").alias("text"))
    )
    return edit_distance_pairs(names, max_dist=3, block_ngram=3)


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially weighted moving average over the daily
    event-count series (window-7 explicit weights, alpha=0.5): the
    trend smoother behind freshness/throughput dashboards. A true
    infinite-memory EWMA is a sequential recurrence; the 7-term
    truncation (residual weight < 1%) makes it a pure window expression
    both engines evaluate identically."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    alpha = 0.5
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(7):
        wk = F.lit(alpha * (1 - alpha) ** k)
        lagged = F.lag("n", k).over(w)
        num = num + F.when(lagged.isNotNull(), wk * lagged).otherwise(F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), wk).otherwise(F.lit(0.0))
    return daily.select(
        "day", "event_type", "n", F.round(num / den, 6).alias("ewma")
    )


def _q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series anomaly gate: days whose count deviates from
    the series MEDIAN by more than 3 robust z (MAD-normalized, the
    1.4826 consistency constant) — the outlier detector that survives
    the very outliers a mean/stddev gate is poisoned by; reported as the
    top-40 most anomalous (series, day) pairs so the gate is inspectable
    even on well-behaved data. Two exact percentile aggs per series
    (interpolated, matching quantile_cont)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    d2 = daily.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = d2.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        d2.join(mad, "event_type")
        .withColumn(
            "rz",
            F.col("adev") / (F.lit(1.4826) * F.col("mad")),
        )
        .select(
            "event_type",
            "day",
            "n",
            F.round("med", 4).alias("med"),
            F.round("rz", 6).alias("robust_z"),
        )
        .orderBy(F.desc("robust_z"), F.asc("event_type"), F.asc("day"))
        .limit(40)
    )


def _q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over the event stream: per (day, event_type)
    counts vs the trailing-3-day mean of the same type (lag window),
    lift = n / trailing_avg — the trending-topics primitive over any
    keyed time series."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, -1)
    return (
        daily.withColumn("trailing_avg", F.avg("n").over(w))
        .filter(F.col("trailing_avg").isNotNull())
        .select(
            "day",
            "event_type",
            "n",
            F.round("trailing_avg", 6).alias("trailing_avg"),
            F.round(F.col("n") / F.col("trailing_avg"), 6).alias("lift"),
        )
    )


def _msf_oracle_sql(rounds: int = 9) -> str:
    """Unrolled Borůvka: per round, labels = min-id reachability over
    the forest-so-far (recursive CTE per round), each live component
    selects its min outgoing weight, winners join back by weight
    (weights injective), forest grows by UNION (idempotent once
    converged — extra rounds are no-ops, the k-truss unroll trick)."""
    parts = [
        f"WITH RECURSIVE base AS MATERIALIZED ({_EDGE_SQL_DERIVATION})",
        """und AS MATERIALIZED (
            SELECT a, b, ((a * 211 + b) * 1103515245) % 2147483647 AS w
            FROM (SELECT DISTINCT LEAST(src, dst) AS a,
                         GREATEST(src, dst) AS b
                  FROM base WHERE src <> dst)
        )""",
        """ids AS MATERIALIZED (
            SELECT DISTINCT id FROM (
                SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        )""",
        "f0 AS (SELECT a, b, w FROM und WHERE 1 = 0)",
    ]
    for i in range(rounds):
        parts.append(
            f"""reach{i}(id, r) AS (
                SELECT id, id FROM ids
                UNION
                SELECT s.v, reach{i}.r FROM reach{i}
                JOIN (SELECT a AS u, b AS v FROM f{i}
                      UNION ALL SELECT b, a FROM f{i}) s
                  ON reach{i}.id = s.u
            )"""
        )
        parts.append(
            f"lab{i} AS MATERIALIZED (SELECT id, MIN(r) AS c "
            f"FROM reach{i} GROUP BY id)"
        )
        parts.append(
            f"""labeled{i} AS MATERIALIZED (
                SELECT la.c AS ca, lb.c AS cb, u.w
                FROM und u
                JOIN lab{i} la ON la.id = u.a
                JOIN lab{i} lb ON lb.id = u.b
                WHERE la.c <> lb.c
            )"""
        )
        parts.append(
            f"""cand{i} AS MATERIALIZED (
                SELECT DISTINCT w FROM (
                    SELECT comp, MIN(w) AS w FROM (
                        SELECT ca AS comp, w FROM labeled{i}
                        UNION ALL SELECT cb, w FROM labeled{i}
                    ) GROUP BY comp
                )
            )"""
        )
        parts.append(
            f"""f{i + 1} AS MATERIALIZED (
                SELECT a, b, w FROM f{i}
                UNION
                SELECT a, b, w FROM und WHERE w IN (SELECT w FROM cand{i})
            )"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT a, b, CAST(w AS BIGINT) AS w FROM f{rounds}"
    )


def _crawl_schedule_oracle(
    n_fetchers: int = 8, cap: int = 40, seed: int = 0
) -> str:
    from plwordnet_spark.textops.sampling import SAMPLE_A, SAMPLE_B, SAMPLE_P

    return f"""
        WITH fr AS (
            SELECT doc_id,
                   'https://' || source || '.example.com/' || lang
                       || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
                   source || '.example.com' AS host,
                   CAST(n_chars AS BIGINT) AS priority
            FROM documents
        ),
        keyed AS (
            SELECT doc_id, url, host, priority,
                   ROW_NUMBER() OVER (
                       PARTITION BY host ORDER BY priority DESC, url
                   ) AS rn,
                   MIN(doc_id) OVER (PARTITION BY host) AS hk
            FROM fr
        )
        SELECT doc_id, url, host, priority,
               CAST(rn - 1 AS INTEGER) AS slot,
               CAST((((hk % {SAMPLE_P}) * {SAMPLE_A} + {SAMPLE_B + seed})
                     % {SAMPLE_P}) % {n_fetchers} AS INTEGER) AS fetcher
        FROM keyed WHERE rn <= {cap}
    """


def _sample_per_stratum_oracle(k: int = 20, seed: int = 0) -> str:
    from plwordnet_spark.textops.sampling import SAMPLE_A, SAMPLE_B, SAMPLE_P

    return f"""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY ((doc_id % {SAMPLE_P}) * {SAMPLE_A}
                                 + {SAMPLE_B + seed}) % {SAMPLE_P}, doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= {k}
    """


def _q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel with first-touch attribution
    (behavior.funnel): K co-partitioned hash joins on user_id, no
    full-stream window. Reference analogue: the session-flow accounting
    in plwordnet_handler's usage reporting, restated as aggregates."""
    from plwordnet_spark.behavior import funnel

    return funnel(_t(spark, sf_dir, "events"), ["view", "click", "purchase"])


def _q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (behavior.
    markov_transitions): one user-partitioned lag window + a
    |types|²-row normalized aggregate."""
    from plwordnet_spark.behavior import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"))


def _q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 length-3 event paths (behavior.top_paths): lag-2 trigram
    extraction in one window pass, global sort only over the tiny
    path histogram."""
    from plwordnet_spark.behavior import top_paths

    return top_paths(_t(spark, sf_dir, "events"), length=3, n=20)


def _in_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from plwordnet_spark.graph.stats import degree_distribution

    return (
        degree_distribution(_derived_edges(spark, sf_dir))
        .filter(F.col("direction") == "in")
        .select("degree", "n_nodes")
    )


def _q_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-MLE power-law exponent of the in-degree distribution
    (stats.powerlaw_alpha over the compact histogram)."""
    from plwordnet_spark.graph.stats import powerlaw_alpha

    return powerlaw_alpha(_in_degree_hist(spark, sf_dir))


def _q_gini_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the in-degree distribution (stats.
    gini_from_histogram) — the scalar hub-skew indicator; the ordering
    window runs over the histogram, never per-node rows."""
    from plwordnet_spark.graph.stats import gini_from_histogram

    return gini_from_histogram(_in_degree_hist(spark, sf_dir))


_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


def _q_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — the scale-correct form: the
    implicit form runs an extra distinct-collect job over the full
    stream to discover columns; pinning them keeps this a single
    groupBy and makes the output schema static for downstream code."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.groupBy((F.col("user_id") % 10).cast("int").alias("bucket"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum("value"))
    )
    return p.select(
        "bucket",
        *[
            F.round(F.coalesce(F.col(c), F.lit(0.0)), 2).alias(c)
            for c in _EVENT_TYPES
        ],
    )


_WALKS_RECURSIVE_SQL = f"""
WITH RECURSIVE edges AS MATERIALIZED (
                {_WEIGHTED_EDGE_SQL_DERIVATION}
            ),
            cdf AS MATERIALIZED (
                SELECT src, dst,
                       (SUM(w) OVER (PARTITION BY src ORDER BY dst) - w)
                         / SUM(w) OVER (PARTITION BY src) AS cdf_lo,
                       SUM(w) OVER (PARTITION BY src ORDER BY dst)
                         / SUM(w) OVER (PARTITION BY src) AS cdf_hi
                FROM edges
            ),
            starts AS (SELECT DISTINCT src AS start FROM edges),
            -- u(start, walk, step): the engine's mod-p congruential
            -- sampler (graph/walks.py walk_u_expr), seed=5 ->
            -- (5*104729 + 12345) % 1000003 = 535990
            walk(start, walk, step, node) AS (
                SELECT start, k.walk, CAST(0 AS BIGINT), start
                FROM starts,
                     (SELECT UNNEST(range(2)) AS walk) k
                UNION ALL
                SELECT w.start, w.walk, w.step + 1, c.dst
                FROM walk w
                JOIN cdf c ON c.src = w.node
                WHERE w.step < 6
                  AND c.cdf_lo <= CAST((((
                        (w.start % 1000003) * 743177
                        + (w.walk * 15485863) % 1000003
                        + ((w.step + 1) * 499979) % 1000003
                        + 535990
                      ) % 1000003) * 499979 + 12345) % 1000003 AS DOUBLE)
                      / 1000003
                  AND CAST((((
                        (w.start % 1000003) * 743177
                        + (w.walk * 15485863) % 1000003
                        + ((w.step + 1) * 499979) % 1000003
                        + 535990
                      ) % 1000003) * 499979 + 12345) % 1000003 AS DOUBLE)
                      / 1000003 < c.cdf_hi
            )
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q_scan_filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-06-01'
        """,
        "q_point_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus
            FROM orders WHERE o_orderkey = 7
        """,
        "q_filter_isin": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        """,
        "q_filter_minlen_like": """
            SELECT doc_id, lang, CAST(length(text) AS INTEGER) AS text_len
            FROM documents WHERE length(text) >= 200 AND lang LIKE 'e%'
        """,
        "q_group_count": """
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_group_agg_q1": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_smooth_weight": """
            SELECT l_partkey, CAST(1 + count(*) AS BIGINT) AS smooth_weight
            FROM lineitem GROUP BY l_partkey
        """,
        "q_distinct_count": """
            SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
            FROM orders GROUP BY o_orderpriority
        """,
        "q_broadcast_join": """
            SELECT r_name AS region_name,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   ROUND(SUM(c_acctbal), 2) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q_multi_join_revenue": """
            SELECT n_name AS nation_name, ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_totalprice > 300000
            )
        """,
        "q_window_topk_per_group": """
            SELECT o_custkey, o_orderkey, rank FROM (
                SELECT o_custkey, o_orderkey,
                       CAST(row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS INTEGER) AS rank
                FROM orders
            ) WHERE rank <= 3
        """,
        "q_first_per_group": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                       ) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
        "q_running_sum": """
            SELECT o_custkey, o_orderkey,
                   ROUND(SUM(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 2) AS running_total
            FROM orders WHERE o_custkey < 50
        """,
        "q_lag_delta": """
            SELECT o_custkey, o_orderkey,
                   ROUND(COALESCE(o_totalprice - LAG(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ), 0.0), 2) AS price_delta
            FROM orders WHERE o_custkey < 50
        """,
        "q_dense_ids": """
            SELECT n_name,
                   CAST(row_number() OVER (ORDER BY n_name) - 1 AS INTEGER) AS aligned_id
            FROM nation
        """,
        "q_global_topk": """
            SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "q_union_tagged": """
            SELECT c_custkey AS key, 'rich' AS tag FROM customer WHERE c_acctbal > 9000
            UNION ALL
            SELECT c_custkey AS key, 'debt' AS tag FROM customer WHERE c_acctbal < -500
        """,
        "q_distinct_pairs": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "q_except": """
            SELECT p_partkey AS key FROM part WHERE p_size > 25
            EXCEPT ALL
            SELECT p_partkey AS key FROM part WHERE p_retailprice > 950
        """,
        "q_rollup": """
            SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                   COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                   CAST(count(*) AS BIGINT) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q_cube": """
            SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
                   COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q_char_stats": """
            SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
                   ROUND(
                       (length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                       / CAST(length(text) AS DOUBLE), 6
                   ) AS punct_ratio
            FROM documents WHERE length(text) > 0
        """,
        "q_sentence_pairs": """
            SELECT doc_id, s1.s AS sentence1, s2.s AS sentence2
            FROM (
                SELECT doc_id,
                       list_filter(string_split(text, ' the '),
                                   x -> length(x) >= 10) AS arr
                FROM documents WHERE doc_id < 20
            ), UNNEST(arr) AS s1(s), UNNEST(arr) AS s2(s)
        """,
        "q_word_explode_count": """
            SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents
            ) WHERE length(word) >= 5
            GROUP BY word HAVING count(*) >= 3
        """,
        "q_exact_dedup_keys": """
            SELECT MIN(doc_id) AS doc_id FROM documents
            GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
        """,
        "q_token_counts": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                        w -> length(w) > 0)) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "q_pmi_bigrams": """
            WITH toks AS (
                SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   w -> length(w) > 0) AS ws
                FROM documents
            ),
            toks2 AS (SELECT ws FROM toks WHERE len(ws) > 0),
            uni AS (
                SELECT w, count(*) AS n
                FROM (SELECT unnest(ws) AS w FROM toks2) GROUP BY w
            ),
            pairs AS (
                SELECT ws[pos + 1] AS w1, ws[pos + 2] AS w2
                FROM (SELECT ws, unnest(range(len(ws) - 1)) AS pos
                      FROM toks2 WHERE len(ws) >= 2)
            ),
            big AS (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
                FROM pairs GROUP BY w1, w2 HAVING count(*) >= 5
            ),
            tot AS (
                SELECT (SELECT SUM(n) FROM uni) AS N,
                       (SELECT count(*) FROM pairs) AS B
            )
            SELECT b.w1, b.w2, b.n12,
                   ROUND(log2((b.n12 / t.B) /
                              ((u1.n / t.N) * (u2.n / t.N))), 6) AS pmi
            FROM big b
            JOIN uni u1 ON u1.w = b.w1
            JOIN uni u2 ON u2.w = b.w2
            CROSS JOIN tot t
        """,
        "q_tfidf_topk": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                          w -> length(w) > 0)) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            docfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ),
            n AS (SELECT count(*) AS N FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       tf.tf * (ln((n.N + 1.0) / (docfreq.df + 1.0)) + 1.0) AS score_raw
                FROM tf JOIN docfreq USING (term) CROSS JOIN n
            ),
            ranked AS (
                SELECT doc_id, term, tf, score_raw,
                       CAST(row_number() OVER (PARTITION BY doc_id
                             ORDER BY score_raw DESC, term) AS INTEGER) AS rank
                FROM scored
            )
            SELECT doc_id, term, tf, ROUND(score_raw, 6) AS score, rank
            FROM ranked WHERE rank <= 3
        """,
        "q_bm25_topk": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                          w -> length(w) > 0)) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
            n AS (SELECT count(*) AS N FROM documents),
            ad AS (SELECT AVG(dl) AS avgdl FROM dl),
            qtf AS (SELECT * FROM tf WHERE term IN ('fast', 'scan', 'merge')),
            docfreq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
            scored AS (
                SELECT qtf.doc_id,
                       ln(1.0 + (n.N - docfreq.df + 0.5) / (docfreq.df + 0.5))
                       * qtf.tf * (1.2 + 1.0)
                       / (qtf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS s
                FROM qtf
                JOIN docfreq USING (term)
                JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN ad
            ),
            agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
                       SUM(s) AS score_raw
                FROM scored GROUP BY doc_id
            ),
            ranked AS (
                SELECT doc_id, n_terms_matched, score_raw,
                       CAST(row_number() OVER (
                           ORDER BY score_raw DESC, doc_id) AS INTEGER) AS rank
                FROM agg
            )
            SELECT doc_id, n_terms_matched, ROUND(score_raw, 6) AS score, rank
            FROM ranked WHERE rank <= 20
        """,
        "q_unigram_surprisal": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                          w -> length(w) > 0)) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            tc AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
            tot AS (SELECT SUM(cnt) AS total FROM tc),
            per_doc AS (
                SELECT tf.doc_id,
                       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                       SUM(-tf.tf * ln(tc.cnt * 1.0 / tot.total)) AS sraw
                FROM tf JOIN tc USING (term) CROSS JOIN tot
                GROUP BY tf.doc_id
            )
            SELECT doc_id, n_tokens, ROUND(sraw / n_tokens, 6) AS surprisal
            FROM per_doc
            ORDER BY surprisal DESC, doc_id ASC
            LIMIT 50
        """,
        "q_bigram_surprisal": """
            WITH ws AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   w -> length(w) > 0) AS ws
                FROM documents
            ),
            bi AS (
                SELECT doc_id, ws[pos + 1] AS v, ws[pos + 2] AS w
                FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS pos
                      FROM ws WHERE len(ws) >= 2)
            ),
            tf AS (
                SELECT doc_id, v, w, CAST(count(*) AS BIGINT) AS tf
                FROM bi GROUP BY doc_id, v, w
            ),
            cvw AS (SELECT v, w, SUM(tf) AS c_vw FROM tf GROUP BY v, w),
            cv AS (SELECT v, SUM(c_vw) AS c_v FROM cvw GROUP BY v),
            pd AS (
                SELECT tf.doc_id,
                       CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
                       SUM(-tf.tf * ln(cvw.c_vw * 1.0 / cv.c_v)) AS sraw
                FROM tf JOIN cvw USING (v, w) JOIN cv USING (v)
                GROUP BY tf.doc_id
            )
            SELECT doc_id, n_bigrams, ROUND(sraw / n_bigrams, 6) AS surprisal
            FROM pd
            ORDER BY surprisal DESC, doc_id ASC
            LIMIT 50
        """,
        "q_postings": """
            WITH ws AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   w -> length(w) > 0) AS ws
                FROM documents
            ),
            toks AS (
                SELECT doc_id, ws[pos + 1] || '_' || ws[pos + 2] AS term
                FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS pos
                      FROM ws WHERE len(ws) >= 2)
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            n AS (SELECT count(*) AS N FROM documents),
            stats AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df,
                       CAST(SUM(tf) AS BIGINT) AS total_tf
                FROM tf GROUP BY term
            ),
            kept AS (
                SELECT term, df, total_tf FROM stats CROSS JOIN n
                WHERE df >= 5 AND df <= n.N * 0.6
            )
            SELECT kept.term, kept.df, kept.total_tf,
                   string_agg(CAST(tf.doc_id AS VARCHAR), ','
                              ORDER BY tf.doc_id) AS postings
            FROM kept JOIN tf USING (term)
            GROUP BY kept.term, kept.df, kept.total_tf
        """,
        "q_events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   ROUND(SUM(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q_mean_pool_by_label": """
            SELECT label, CAST(pos AS INTEGER) AS pos,
                   ROUND(AVG(CAST(x AS DOUBLE)), 6) AS mean_x
            FROM (
                SELECT label,
                       unnest(range(len(embedding))) AS pos,
                       unnest(embedding) AS x
                FROM embeddings
            )
            GROUP BY 1, 2
        """,
        "q_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id,
                       CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
                FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
                SELECT query_id, vec_id, s,
                       CAST(row_number() OVER (
                           PARTITION BY query_id ORDER BY s DESC, vec_id
                       ) AS INTEGER) AS rank
                FROM scored
            )
            SELECT query_id, vec_id, ROUND(s, 4) AS sim, rank
            FROM ranked WHERE rank <= 10
        """,
        "q_ivf_topk": """
            WITH q AS (
                SELECT vec_id AS query_id,
                       CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id >= 5 AND vec_id < 10
            ),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
                FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
                SELECT query_id, vec_id, s,
                       CAST(row_number() OVER (
                           PARTITION BY query_id ORDER BY s DESC, vec_id
                       ) AS INTEGER) AS rank
                FROM scored
            )
            SELECT query_id, vec_id, ROUND(s, 4) AS sim, rank
            FROM ranked WHERE rank <= 5
        """,
        "q_kmeans": _kmeans_oracle_sql(),
        "q_semdedup": _semdedup_oracle_sql(),
        "q_temporal_reach": """
            WITH RECURSIVE tedges AS MATERIALIZED (
                SELECT DISTINCT CAST(o_custkey % 151 AS BIGINT) AS src,
                       CAST(o_orderkey % 151 AS BIGINT) AS dst,
                       CAST(date_diff('day', DATE '1995-01-01',
                                      CAST(o_orderdate AS DATE)) AS BIGINT) AS t
                FROM orders
                WHERE o_custkey % 151 <> o_orderkey % 151
            ),
            nodes AS (
                SELECT src AS id FROM tedges UNION SELECT dst FROM tedges
            ),
            reach AS (
                SELECT id, CAST(2000 AS BIGINT) AS arr
                FROM nodes WHERE id IN (0, 1, 2)
                UNION
                SELECT e.dst AS id, e.t AS arr
                FROM reach r JOIN tedges e ON e.src = r.id AND e.t >= r.arr
            )
            SELECT id, MIN(arr) AS arrival FROM reach GROUP BY id
        """,
        "q_group_expansion": """
            WITH group_rels AS (
                SELECT CAST(a.n_nationkey AS BIGINT) AS parent_group,
                       CAST(b.n_nationkey AS BIGINT) AS child_group
                FROM nation a JOIN nation b
                  ON a.n_regionkey = b.n_regionkey
                 AND a.n_nationkey < b.n_nationkey
            )
            SELECT p.s_suppkey AS src, c.s_suppkey AS dst,
                   CAST(1 AS INTEGER) AS rel_id
            FROM group_rels g
            JOIN supplier p ON CAST(p.s_nationkey AS BIGINT) = g.parent_group
            JOIN supplier c ON CAST(c.s_nationkey AS BIGINT) = g.child_group
        """,
        "q_synonymy_cliques": """
            SELECT a.s_suppkey AS src, b.s_suppkey AS dst,
                   CAST(0 AS INTEGER) AS rel_id
            FROM supplier a JOIN supplier b
              ON a.s_nationkey = b.s_nationkey
             AND a.s_suppkey <> b.s_suppkey
        """,
        "q_triangle_count": f"""
            WITH edges AS ({_EDGE_SQL_DERIVATION}),
            und AS (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM und e1
            JOIN und e2 ON e1.b = e2.a
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        "q_clustering_coeff": f"""
            WITH edges AS ({_EDGE_SQL_DERIVATION}),
            und AS (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges
            ),
            deg AS (
                SELECT id, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
                GROUP BY id
            ),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            tpn AS (
                SELECT id, CAST(count(*) AS BIGINT) AS triangles
                FROM (
                    SELECT x AS id FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri
                )
                GROUP BY id
            )
            SELECT d.id, d.degree,
                   CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
                   CASE WHEN d.degree < 2 THEN 0.0
                        ELSE (COALESCE(t.triangles, 0) * 2.0)
                             / (d.degree * (d.degree - 1))
                   END AS coeff
            FROM deg d LEFT JOIN tpn t ON d.id = t.id
        """,
        "q_degree_histogram": f"""
            WITH edges_all AS (
                SELECT CAST(l_orderkey % 211 AS BIGINT) AS src,
                       CAST(l_partkey % 211 AS BIGINT) AS dst
                FROM lineitem
                WHERE l_orderkey % 211 <> l_partkey % 211
            ),
            ded AS (SELECT DISTINCT src, dst FROM edges_all),
            tagged AS (
                SELECT 'out' AS direction, CAST(count(*) AS BIGINT) AS degree
                FROM ded GROUP BY src
                UNION ALL
                SELECT 'in' AS direction, CAST(count(*) AS BIGINT) AS degree
                FROM ded GROUP BY dst
            )
            SELECT direction, degree, CAST(count(*) AS BIGINT) AS n_nodes
            FROM tagged
            GROUP BY direction, degree
        """,
        "q_attack_curve": _attack_oracle_sql(),
        "q_failure_curve": _attack_oracle_sql(mode="random"),
        "q_path_rollup": """
            WITH parts AS (
                SELECT [lang, 'doc', CAST(doc_id % 10 AS VARCHAR)] AS p
                FROM documents
            ),
            pref AS (
                SELECT '/' || array_to_string(p[1:gs.i], '/') AS prefix
                FROM parts, UNNEST(generate_series(1, len(p))) AS gs(i)
            )
            SELECT prefix, CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(len(string_split(prefix, '/')) - 1 AS INTEGER)
                       AS depth
            FROM pref GROUP BY prefix
        """,
        "q_langid_confusion": f"""
            WITH w AS (SELECT lang, {_WORDS_SQL} AS ws FROM documents),
            r AS (SELECT lang, {_stop_ratio_sql(_PL_SQL)} AS pl,
                         {_stop_ratio_sql(_EN_SQL)} AS en FROM w)
            SELECT lang AS declared,
                   CASE WHEN pl < 0.02 AND en < 0.02 THEN 'unknown'
                        WHEN pl >= en THEN 'pl' ELSE 'en' END AS predicted,
                   CAST(count(*) AS BIGINT) AS n
            FROM r GROUP BY 1, 2
        """,
        "q_zipf_vocab": f"""
            WITH toks AS (
                SELECT unnest({_WORDS_SQL}) AS term FROM documents
            ),
            tc AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
            hist AS (
                SELECT freq, CAST(count(*) AS BIGINT) AS n_terms
                FROM tc GROUP BY freq
            )
            SELECT ROUND(
                       1.0 + SUM(n_terms) / SUM(n_terms * LN(freq / 2.5)),
                       6
                   ) AS alpha,
                   CAST(SUM(n_terms) AS BIGINT) AS n_tail
            FROM hist WHERE freq >= 3
        """,
        "q_vocab_richness": f"""
            WITH toks AS (
                SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            agg AS (
                SELECT doc_id,
                       CAST(SUM(tf) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS n_types,
                       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_hapax
                FROM tf GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, n_types,
                   ROUND(n_types * 1.0 / n_tokens, 6) AS ttr,
                   ROUND(n_hapax * 1.0 / n_types, 6) AS hapax_frac
            FROM agg ORDER BY ttr, doc_id LIMIT 50
        """,
        "q_edit_pairs": """
            WITH names AS (
                SELECT MIN(p_partkey) AS id, lower(p_name) AS s
                FROM part GROUP BY p_name
            ),
            grams AS (
                SELECT DISTINCT id, s,
                       substring(s, gs.i, 3) AS g
                FROM names, UNNEST(generate_series(
                    1, greatest(length(s) - 2, 1))) AS gs(i)
            ),
            cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
                FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
            )
            SELECT id_a, id_b, CAST(levenshtein(sa, sb) AS INTEGER) AS dist
            FROM cand WHERE levenshtein(sa, sb) <= 3
        """,
        "q_ewma": f"""
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            lagged AS (
                SELECT day, event_type, n,
                    {" + ".join(
                        f"COALESCE({0.5 * 0.5 ** k} * LAG(n, {k}) OVER w, 0.0)"
                        for k in range(7)
                    )} AS num,
                    {" + ".join(
                        f"CASE WHEN LAG(n, {k}) OVER w IS NOT NULL"
                        f" THEN {0.5 * 0.5 ** k} ELSE 0.0 END"
                        for k in range(7)
                    )} AS den
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)
            )
            SELECT day, event_type, n, ROUND(num / den, 6) AS ewma
            FROM lagged
        """,
        "q_anomaly_days": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            med AS (
                SELECT event_type, quantile_cont(n, 0.5) AS med
                FROM daily GROUP BY event_type
            ),
            d2 AS (
                SELECT daily.*, med.med, ABS(n - med.med) AS adev
                FROM daily JOIN med USING (event_type)
            ),
            mad AS (
                SELECT event_type, quantile_cont(adev, 0.5) AS mad
                FROM d2 GROUP BY event_type
            )
            SELECT d2.event_type, d2.day, d2.n,
                   ROUND(d2.med, 4) AS med,
                   ROUND(d2.adev / (1.4826 * mad.mad), 6) AS robust_z
            FROM d2 JOIN mad USING (event_type)
            ORDER BY robust_z DESC, d2.event_type, d2.day
            LIMIT 40
        """,
        "q_graph_diff": """
            WITH base AS (
                SELECT DISTINCT CAST(l_orderkey % 211 AS BIGINT) AS src,
                       CAST(l_partkey % 211 AS BIGINT) AS dst, l_shipdate
                FROM lineitem
                WHERE l_orderkey % 211 <> l_partkey % 211
            ),
            a AS (SELECT DISTINCT src, dst FROM base
                  WHERE l_shipdate < TIMESTAMP '1997-01-01'),
            b AS (SELECT DISTINCT src, dst FROM base),
            added AS (
                SELECT CAST(count(*) AS BIGINT) AS n_added_edges FROM b
                WHERE NOT EXISTS (
                    SELECT 1 FROM a WHERE a.src = b.src AND a.dst = b.dst)
            ),
            da AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_a
                   FROM a GROUP BY dst),
            db AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_b
                   FROM b GROUP BY dst)
            SELECT COALESCE(da.id, db.id) AS id,
                   COALESCE(in_a, 0) AS in_a,
                   COALESCE(in_b, 0) AS in_b,
                   COALESCE(in_b, 0) - COALESCE(in_a, 0) AS delta,
                   (SELECT n_added_edges FROM added) AS n_added_edges
            FROM da FULL JOIN db ON da.id = db.id
            WHERE COALESCE(in_b, 0) - COALESCE(in_a, 0) <> 0
        """,
        "q_incremental_cc": f"""
            WITH RECURSIVE edges AS ({_EDGE_SQL_DERIVATION}),
            und AS (
                SELECT src AS u, dst AS v FROM edges
                UNION
                SELECT dst AS u, src AS v FROM edges
            ),
            ids AS (SELECT DISTINCT u AS id FROM und),
            reach(id, comp) AS (
                SELECT id, id FROM ids
                UNION
                SELECT und.u, reach.comp
                FROM reach JOIN und ON reach.id = und.v
                WHERE reach.comp < und.u
            )
            SELECT id, MIN(comp) AS component FROM reach GROUP BY id
        """,
        "q_connected_components": f"""
            WITH RECURSIVE edges AS ({_EDGE_SQL_DERIVATION}),
            und AS (
                SELECT src AS u, dst AS v FROM edges
                UNION
                SELECT dst AS u, src AS v FROM edges
            ),
            ids AS (SELECT DISTINCT u AS id FROM und),
            reach(id, comp) AS (
                SELECT id, id FROM ids
                UNION
                SELECT und.u, reach.comp
                FROM reach JOIN und ON reach.id = und.v
                WHERE reach.comp < und.u
            )
            SELECT id, MIN(comp) AS component FROM reach GROUP BY id
        """,
        "q_reciprocity": f"""
            WITH edges AS ({_STRUCT_EDGE_SQL}),
            recip AS (
                SELECT e.src, e.dst
                FROM edges e
                WHERE EXISTS (
                    SELECT 1 FROM edges r
                    WHERE r.src = e.dst AND r.dst = e.src
                )
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
                   (SELECT CAST(count(*) AS BIGINT) FROM recip) AS n_reciprocal,
                   ROUND((SELECT count(*) FROM recip) * 1.0
                         / (SELECT count(*) FROM edges), 8) AS reciprocity
        """,
        "q_assortativity": f"""
            WITH edges AS ({_STRUCT_EDGE_SQL}),
            out_deg AS (
                SELECT src AS id, CAST(count(*) AS BIGINT) AS out_degree
                FROM edges GROUP BY src
            ),
            in_deg AS (
                SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_degree
                FROM edges GROUP BY dst
            )
            SELECT CAST(count(*) AS BIGINT) AS n_edges,
                   ROUND(corr(o.out_degree, i.in_degree), 6) AS assortativity
            FROM edges e
            JOIN out_deg o ON e.src = o.id
            JOIN in_deg i ON e.dst = i.id
        """,
        "q_conductance": f"""
            WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL}),
            und AS MATERIALIZED (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst
            ),
            m2 AS (SELECT 2.0 * count(*) AS two_m FROM und),
            lab AS (
                SELECT a % {_CONDUCTANCE_COMM_MOD} AS ca,
                       b % {_CONDUCTANCE_COMM_MOD} AS cb
                FROM und
            ),
            contrib AS (
                SELECT ca AS community,
                       CASE WHEN ca = cb THEN 0 ELSE 1 END AS cut,
                       CASE WHEN ca = cb THEN 1 ELSE 0 END AS intra
                FROM lab
                UNION ALL
                SELECT cb, 1, 0 FROM lab WHERE cb <> ca
            ),
            per_c AS (
                SELECT community, SUM(cut) AS cut_edges,
                       2 * SUM(intra) + SUM(cut) AS volume
                FROM contrib GROUP BY community
            )
            SELECT CAST(community AS BIGINT) AS community,
                   CAST(cut_edges AS BIGINT) AS cut_edges,
                   CAST(volume AS BIGINT) AS volume,
                   ROUND(CASE WHEN least(CAST(volume AS DOUBLE),
                                        (SELECT two_m FROM m2) - volume) > 0
                         THEN cut_edges / least(CAST(volume AS DOUBLE),
                                                (SELECT two_m FROM m2) - volume)
                         ELSE 0.0 END, 8) AS conductance
            FROM per_c
        """,
        "q_rich_club": f"""
            WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL}),
            und AS MATERIALIZED (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst
            ),
            deg AS MATERIALIZED (
                SELECT id, count(*) AS degree FROM (
                    SELECT a AS id FROM und UNION ALL SELECT b FROM und
                ) GROUP BY id
            ),
            em AS MATERIALIZED (
                SELECT least(da.degree, db.degree) AS min_deg
                FROM und
                JOIN deg da ON da.id = und.a
                JOIN deg db ON db.id = und.b
            ),
            ks(k) AS (VALUES {", ".join(f"({k})" for k in _RICH_CLUB_KS)}),
            counts AS (
                SELECT CAST(ks.k AS INT) AS k,
                       CAST((SELECT count(*) FROM deg WHERE degree > ks.k)
                            AS BIGINT) AS n_nodes,
                       CAST((SELECT count(*) FROM em WHERE min_deg > ks.k)
                            AS BIGINT) AS n_edges
                FROM ks
            )
            SELECT k, n_nodes, n_edges,
                   ROUND(CASE WHEN n_nodes >= 2
                         THEN 2.0 * n_edges / (n_nodes * (n_nodes - 1.0))
                         ELSE 0.0 END, 8) AS phi
            FROM counts ORDER BY k
        """,
        "q_avg_nbr_degree": f"""
            WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL}),
            und AS MATERIALIZED (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst
            ),
            sym AS MATERIALIZED (
                SELECT a AS id, b AS nbr FROM und
                UNION ALL
                SELECT b AS id, a AS nbr FROM und
            ),
            deg AS MATERIALIZED (
                SELECT id, count(*) AS degree FROM sym GROUP BY id
            ),
            per_node AS (
                SELECT sym.id, AVG(CAST(d2.degree AS DOUBLE)) AS avg_nbr_deg
                FROM sym JOIN deg d2 ON d2.id = sym.nbr
                GROUP BY sym.id
            )
            SELECT CAST(deg.degree AS BIGINT) AS degree,
                   ROUND(AVG(avg_nbr_deg), 8) AS avg_knn,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM per_node JOIN deg USING (id)
            GROUP BY deg.degree ORDER BY degree
        """,
        "q_scc": f"""
            WITH RECURSIVE edges AS ({_STRUCT_EDGE_SQL}),
            nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
            reach(a, b) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            ),
            mutual AS (
                SELECT r1.a AS v, r1.b AS u
                FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
            )
            SELECT n.id,
                   CAST(LEAST(n.id, COALESCE(MIN(m.u), n.id)) AS BIGINT)
                       AS component
            FROM nodes n LEFT JOIN mutual m ON m.v = n.id
            GROUP BY n.id
        """,
        "q_wl_labels": _wl_oracle_sql(),
        "q_triad_census": f"""
            WITH edges AS MATERIALIZED ({_STRUCT_EDGE_SQL}),
            paths AS MATERIALIZED (
                SELECT a.src AS u, a.dst AS v, b.dst AS w
                FROM edges a JOIN edges b ON a.dst = b.src
                WHERE a.src <> b.dst
            )
            SELECT CAST(count(*) AS BIGINT) AS n_two_paths,
                   CAST(count(*) FILTER (WHERE EXISTS (
                       SELECT 1 FROM edges e
                       WHERE e.src = paths.u AND e.dst = paths.w
                   )) AS BIGINT) AS n_transitive,
                   CAST(count(*) FILTER (WHERE EXISTS (
                       SELECT 1 FROM edges e
                       WHERE e.src = paths.w AND e.dst = paths.u
                   )) // 3 AS BIGINT) AS n_cyclic
            FROM paths
        """,
        "q_topo_levels": f"""
            WITH RECURSIVE edges AS ({_STRUCT_EDGE_SQL}),
            nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
            reach(a, b) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            ),
            mutual AS (
                SELECT r1.a AS v, r1.b AS u
                FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
            ),
            scc AS MATERIALIZED (
                SELECT n.id,
                       CAST(LEAST(n.id, COALESCE(MIN(m.u), n.id)) AS BIGINT)
                           AS component
                FROM nodes n LEFT JOIN mutual m ON m.v = n.id
                GROUP BY n.id
            ),
            cedges AS MATERIALIZED (
                SELECT DISTINCT s1.component AS cu, s2.component AS cv
                FROM edges e
                JOIN scc s1 ON s1.id = e.src
                JOIN scc s2 ON s2.id = e.dst
                WHERE s1.component <> s2.component
            ),
            depths AS (
                SELECT DISTINCT component AS c, CAST(0 AS BIGINT) AS d FROM scc
                UNION
                SELECT ce.cv, dp.d + 1 FROM depths dp JOIN cedges ce ON ce.cu = dp.c
            ),
            lvl AS (SELECT c AS component, MAX(d) AS level FROM depths GROUP BY c),
            sizes AS (
                SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
                FROM scc GROUP BY component
            )
            SELECT component, level, n_nodes FROM lvl JOIN sizes USING (component)
        """,
        "q_bowtie": f"""
            WITH RECURSIVE edges AS ({_STRUCT_EDGE_SQL}),
            nodes AS (
                -- explicit DISTINCT: inside WITH RECURSIVE this DuckDB
                -- build does not dedup a plain UNION in a non-recursive
                -- CTE, and the final SELECT has no GROUP BY to mask it
                SELECT DISTINCT id FROM (
                    SELECT src AS id FROM edges
                    UNION ALL SELECT dst FROM edges
                )
            ),
            reach(a, b) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            ),
            mutual AS (
                SELECT r1.a AS v, r1.b AS u
                FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
            ),
            scc AS (
                SELECT n.id,
                       LEAST(n.id, COALESCE(MIN(m.u), n.id)) AS component
                FROM nodes n LEFT JOIN mutual m ON m.v = n.id
                GROUP BY n.id
            ),
            core_comp AS (
                SELECT component FROM scc
                GROUP BY component
                ORDER BY count(*) DESC, component ASC
                LIMIT 1
            ),
            core_ids AS (
                SELECT id FROM scc
                WHERE component = (SELECT component FROM core_comp)
            ),
            sym AS (
                SELECT src AS a, dst AS b FROM edges
                UNION SELECT dst, src FROM edges
            ),
            ureach(a, b) AS (
                SELECT a, b FROM sym
                UNION
                SELECT r.a, s.b FROM ureach r JOIN sym s ON r.b = s.a
            ),
            wcc AS (
                SELECT n.id, LEAST(n.id, COALESCE(MIN(r.b), n.id)) AS comp
                FROM nodes n LEFT JOIN ureach r ON r.a = n.id
                GROUP BY n.id
            ),
            core_wcc AS (
                SELECT comp FROM wcc
                WHERE id = (SELECT MIN(id) FROM core_ids)
            ),
            fwd AS (
                SELECT DISTINCT r.b AS id
                FROM reach r JOIN core_ids c ON r.a = c.id
            ),
            bwd AS (
                SELECT DISTINCT r.a AS id
                FROM reach r JOIN core_ids c ON r.b = c.id
            )
            SELECT n.id,
                   CASE
                       WHEN n.id IN (SELECT id FROM core_ids) THEN 'CORE'
                       WHEN (SELECT comp FROM wcc w WHERE w.id = n.id)
                            <> (SELECT comp FROM core_wcc) THEN 'DISCONNECTED'
                       WHEN n.id IN (SELECT id FROM bwd) THEN 'IN'
                       WHEN n.id IN (SELECT id FROM fwd) THEN 'OUT'
                       ELSE 'TENDRIL'
                   END AS region
            FROM nodes n
        """,
        "q_weighted_mean_pool": """
            SELECT label, CAST(pos AS INTEGER) AS pos,
                   ROUND(SUM(x * w) / SUM(w), 6) AS mean_x
            FROM (
                SELECT label, 1.0 + (vec_id % 5) AS w,
                       unnest(range(len(embedding))) AS pos,
                       unnest(CAST(embedding AS DOUBLE[])) AS x
                FROM embeddings
            )
            GROUP BY 1, 2
        """,
        "q_pagerank_top": _pagerank_oracle_sql(),
        "q_spam_mass": _spam_mass_oracle_sql(),
        "q_redirect_resolve": _redirect_oracle_sql(),
        "q_anchor_topk": _ANCHOR_ORACLE_SQL,
        "q_cocitation": _two_path_oracle_sql("src", "dst"),
        "q_bib_coupling": _two_path_oracle_sql("dst", "src"),
        "q_modularity": _MODULARITY_ORACLE_SQL,
        "q_cohort_retention": _COHORT_ORACLE_SQL,
        "q_salsa": _salsa_oracle_sql(),
        "q_backlink_diversity": _BACKLINK_ORACLE_SQL,
        "q_attributed_clicks": _ATTRIBUTION_ORACLE_SQL,
        "q_eigenvector": _eigenvector_oracle_sql(),
        "q_json_props": _JSON_PROPS_ORACLE_SQL,
        "q_url_features": _URL_FEATURES_ORACLE_SQL,
        "q_mixture_weights": """
            WITH c AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source
            ),
            p AS (
                SELECT source, n_docs,
                       pow(CAST(n_docs AS DOUBLE), 0.3) AS p
                FROM c
            ),
            t AS (SELECT SUM(p) AS tp FROM p)
            SELECT source, n_docs,
                   ROUND(p / tp, 6) AS weight,
                   CAST(FLOOR(ROUND(p / tp, 6) * 10000) AS BIGINT)
                       AS expected_docs,
                   ROUND(p / tp * 10000 / n_docs, 6) AS repeat_factor
            FROM p CROSS JOIN t
        """,
        "q_url_canonical": r"""
            WITH raw AS (
                SELECT doc_id,
                       'HTTPS://WWW.' || source || '.Example.COM:443/Doc/'
                       || CAST(doc_id AS VARCHAR)
                       || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                       || '?utm_source=feed&z=' || lang
                       || '&a=' || CAST(n_chars % 7 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END
                           AS url
                FROM documents
            ),
            defrag AS (
                SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u
                FROM raw
            ),
            parts AS (
                SELECT doc_id, url,
                       lower(regexp_extract(u, '^([^:/?#]+)://', 1)) AS sch,
                       lower(regexp_extract(regexp_replace(u, '^[^:/?#]+://', ''),
                                            '^([^/?#]*)', 1)) AS hostport,
                       regexp_extract(regexp_replace(regexp_replace(u,
                           '^[^:/?#]+://', ''), '^[^/?#]*', ''),
                           '^([^?]*)', 1) AS path,
                       regexp_extract(regexp_replace(regexp_replace(u,
                           '^[^:/?#]+://', ''), '^[^/?#]*', ''),
                           '\?(.*)$', 1) AS query
                FROM defrag
            ),
            canon AS (
                SELECT doc_id, url,
                       sch,
                       regexp_replace(
                           CASE WHEN sch = 'http'
                                    THEN regexp_replace(hostport, ':80$', '')
                                WHEN sch = 'https'
                                    THEN regexp_replace(hostport, ':443$', '')
                                ELSE hostport END,
                           '^www\.', '') AS host,
                       regexp_replace(CASE WHEN path = '' THEN '/' ELSE path END,
                                      '(.)/$', '\1') AS path,
                       list_sort(list_filter(string_split(query, '&'),
                           p -> length(p) > 0 AND NOT regexp_matches(p,
                               '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))) AS params
                FROM parts
            )
            SELECT doc_id, url,
                   sch || '://' || host || path
                   || CASE WHEN len(params) > 0
                           THEN '?' || array_to_string(params, '&')
                           ELSE '' END AS canonical
            FROM canon
        """,
        "q_katz": _katz_oracle_sql(),
        "q_ktruss": _ktruss_oracle_sql(),
        "q_pagerank_weighted": _pagerank_oracle_sql(weighted=True),
        "q_host_pagerank": _pagerank_oracle_sql(
            edges_sql=_HOST_PR_EDGES_SQL, id_alias="host"
        ),
        "q_pagerank_personalized": _pagerank_oracle_sql(personalized=True),
        "q_label_propagation": _lpa_oracle_sql(),
        "q_minhash_dup_pairs": _JACCARD_PAIRS_ORACLE,
        "q_simhash_near_dup": _JACCARD_PAIRS_ORACLE,
        "q_embedding_near_dup": _embedding_near_dup_oracle(),
        "q_lsh_topk": _lsh_topk_oracle(),
        "q_percentiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25,
                   ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
                   ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 4) AS p90
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_sessionize": """
            WITH e AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (
                           PARTITION BY user_id ORDER BY ts
                       ) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
                FROM events WHERE user_id < 50
            ),
            s AS (
                SELECT user_id, ts,
                       SUM(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS session_id
                FROM e
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, session_id
        """,
        "q_kcore": _kcore_oracle_sql(),
        "q_sssp": _sssp_oracle_sql(),
        # same graph/source; the bucketed engine converges fully and the
        # 15-round unrolled relaxation reaches the same fixpoint
        "q_sssp_delta_stepping": _sssp_oracle_sql(),
        "q_sssp_delta_resume": _sssp_oracle_sql(),
        "q_ppr_batch": _ppr_batch_oracle_sql(),
        "q_adamic_adar": f"""
            WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION}),
            und AS MATERIALIZED (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges
            ),
            nbrs AS (
                SELECT a AS z, b AS nbr FROM und
                UNION ALL
                SELECT b AS z, a AS nbr FROM und
            ),
            degz AS (SELECT z, COUNT(*) AS deg_z FROM nbrs GROUP BY z),
            -- MATERIALIZED: nz feeds BOTH sides of the two-path join;
            -- inlined, DuckDB would re-derive the distinct edge set
            -- from the lineitem parquet once per reference (the
            -- _pagerank_oracle_sql precedent in this file)
            nz AS MATERIALIZED (
                SELECT n.z, n.nbr, d.deg_z
                FROM nbrs n JOIN degz d USING (z)
                WHERE d.deg_z <= 10000
            )
            SELECT l.nbr AS a, r.nbr AS b,
                   ROUND(SUM(1.0 / LN(l.deg_z)), 6) AS score
            FROM nz l JOIN nz r ON l.z = r.z AND l.nbr < r.nbr
            GROUP BY l.nbr, r.nbr
        """,
        "q_random_walks": f"""
            {_WALKS_RECURSIVE_SQL}
            SELECT start, walk, step, node FROM walk
        """,
        "q_node2vec_walks": _node2vec_oracle_sql(),
        "q_louvain": _louvain_oracle_sql(),
        "q_seed_spread": _seed_spread_oracle_sql(),
        "q_contract_graph": _louvain_oracle_sql(
            final=f"""
        SELECT LEAST(la.label, lb.label) AS a,
               GREATEST(la.label, lb.label) AS b,
               CAST(SUM(u.w) AS BIGINT) AS w
        FROM und u
        JOIN l{_LOUVAIN_ROUNDS} la ON la.id = u.a
        JOIN l{_LOUVAIN_ROUNDS} lb ON lb.id = u.b
        GROUP BY 1, 2"""
        ),
        "q_skipgram": f"""
            {_WALKS_RECURSIVE_SQL},
            sel AS (
                SELECT a.node AS na, b.node AS nb
                FROM walk a
                JOIN walk b
                  ON b.start = a.start AND b.walk = a.walk
                 AND b.step BETWEEN a.step + 1 AND a.step + 2
            )
            SELECT center, context, COUNT(*) AS n
            FROM (SELECT na AS center, nb AS context FROM sel
                  UNION ALL SELECT nb, na FROM sel)
            GROUP BY center, context
        """,
        "q_asof_join": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ),
            views AS (
                SELECT user_id, ts AS vts, MAX(event_id) AS view_id
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id, c.ts,
                   v.vts AS vts_r, v.view_id AS view_id_r
            FROM clicks c
            ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND v.vts <= c.ts
        """,
        "q_range_join": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ),
            errors AS (
                SELECT event_id AS error_id, user_id, ts AS lo,
                       ts + INTERVAL 6 HOUR AS hi
                FROM events WHERE event_type = 'error'
            )
            SELECT c.click_id, e.error_id, c.user_id
            FROM clicks c JOIN errors e
              ON c.user_id = e.user_id AND e.lo <= c.ts AND c.ts < e.hi
        """,
        "q_resource_allocation": f"""
            WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION}),
            und AS MATERIALIZED (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges
            ),
            nbrs AS (
                SELECT a AS z, b AS nbr FROM und
                UNION ALL
                SELECT b AS z, a AS nbr FROM und
            ),
            degz AS (SELECT z, COUNT(*) AS deg_z FROM nbrs GROUP BY z),
            nz AS MATERIALIZED (
                SELECT n.z, n.nbr, d.deg_z
                FROM nbrs n JOIN degz d USING (z)
                WHERE d.deg_z <= 10000
            )
            SELECT l.nbr AS a, r.nbr AS b,
                   ROUND(SUM(1.0 / l.deg_z), 6) AS score
            FROM nz l JOIN nz r ON l.z = r.z AND l.nbr < r.nbr
            GROUP BY l.nbr, r.nbr
        """,
        "q_jaccard_linkpred": f"""
            WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION}),
            und AS MATERIALIZED (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges
            ),
            nbrs AS (
                SELECT a AS z, b AS nbr FROM und
                UNION ALL
                SELECT b AS z, a AS nbr FROM und
            ),
            degz AS MATERIALIZED (
                SELECT z, COUNT(*) AS deg_z FROM nbrs GROUP BY z
            ),
            nz AS MATERIALIZED (
                SELECT n.z, n.nbr
                FROM nbrs n JOIN degz d USING (z)
                WHERE d.deg_z <= 10000
            ),
            common AS (
                SELECT l.nbr AS a, r.nbr AS b, COUNT(*) AS common
                FROM nz l JOIN nz r ON l.z = r.z AND l.nbr < r.nbr
                GROUP BY l.nbr, r.nbr
                HAVING COUNT(*) >= 2
            )
            SELECT c.a, c.b,
                   ROUND(c.common * 1.0
                         / (da.deg_z + db.deg_z - c.common), 6) AS score
            FROM common c
            JOIN degz da ON da.z = c.a
            JOIN degz db ON db.z = c.b
        """,
        "q_common_neighbors": f"""
            WITH edges AS MATERIALIZED ({_EDGE_SQL_DERIVATION}),
            und AS MATERIALIZED (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges
            ),
            nbrs AS (
                SELECT a AS z, b AS nbr FROM und
                UNION ALL
                SELECT b AS z, a AS nbr FROM und
            ),
            degz AS (SELECT z, COUNT(*) AS deg_z FROM nbrs GROUP BY z),
            nz AS MATERIALIZED (
                SELECT n.z, n.nbr
                FROM nbrs n JOIN degz d USING (z)
                WHERE d.deg_z <= 10000
            )
            SELECT l.nbr AS a, r.nbr AS b, COUNT(*) AS common
            FROM nz l JOIN nz r ON l.z = r.z AND l.nbr < r.nbr
            GROUP BY l.nbr, r.nbr
            HAVING COUNT(*) >= 2
        """,
        "q_bfs_distances": _bfs_oracle_sql(),
        "q_bfs_tree": f"""
            WITH RECURSIVE edges AS ({_EDGE_SQL_DERIVATION}),
            und AS MATERIALIZED (
                SELECT DISTINCT u, v FROM (
                    SELECT src AS u, dst AS v FROM edges
                    UNION ALL SELECT dst AS u, src AS v FROM edges
                ) WHERE u <> v
            ),
            ids AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
            reach(id, d) AS (
                SELECT id, CAST(0 AS BIGINT) AS d FROM ids WHERE id = 0
                UNION
                SELECT und.v, reach.d + 1 FROM reach
                JOIN und ON reach.id = und.u
                WHERE reach.d < 250
            ),
            dist AS MATERIALIZED (
                SELECT i.id, MIN(r.d) AS dist
                FROM ids i LEFT JOIN reach r ON i.id = r.id
                GROUP BY i.id
            )
            SELECT d.id, d.dist,
                   (SELECT MIN(und.u) FROM und
                    JOIN dist du ON du.id = und.u
                    WHERE und.v = d.id AND du.dist = d.dist - 1) AS parent
            FROM dist d
        """,
        "q_harmonic_centrality": _harmonic_oracle_sql(),
        "q_host_graph": f"""
            WITH edges AS ({_EDGE_SQL_DERIVATION}),
            nh AS ({_HOST_MAP_SQL})
            SELECT s.host AS src_host, d.host AS dst_host,
                   CAST(COUNT(*) AS DOUBLE) AS weight
            FROM edges e
            JOIN nh s ON e.src = s.id
            JOIN nh d ON e.dst = d.id
            GROUP BY s.host, d.host
        """,
        "q_intra_host_ratio": f"""
            WITH edges AS ({_EDGE_SQL_DERIVATION}),
            nh AS ({_HOST_MAP_SQL}),
            hg AS (
                SELECT s.host AS src_host, d.host AS dst_host,
                       CAST(COUNT(*) AS DOUBLE) AS weight
                FROM edges e
                JOIN nh s ON e.src = s.id
                JOIN nh d ON e.dst = d.id
                GROUP BY s.host, d.host
            )
            SELECT src_host,
                   SUM(CASE WHEN src_host = dst_host THEN weight ELSE 0.0 END)
                       AS n_intra,
                   SUM(weight) AS n_total,
                   ROUND(SUM(CASE WHEN src_host = dst_host THEN weight
                             ELSE 0.0 END) / SUM(weight), 6) AS intra_ratio
            FROM hg GROUP BY src_host
        """,
        "q_closeness_centrality": _closeness_oracle_sql(),
        "q_landmark_distances": f"""
            WITH RECURSIVE edges AS ({_EDGE_SQL_DERIVATION}),
            und AS (
                SELECT DISTINCT u, v FROM (
                    SELECT src AS u, dst AS v FROM edges
                    UNION ALL SELECT dst AS u, src AS v FROM edges
                ) WHERE u <> v
            ),
            ids AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
            reach(lm, id, d) AS (
                SELECT id, id, CAST(0 AS BIGINT) FROM ids WHERE id IN (0, 7, 13)
                UNION
                SELECT reach.lm, und.v, reach.d + 1 FROM reach
                JOIN und ON reach.id = und.u
                WHERE reach.d < 250
            )
            SELECT id, lm AS landmark, MIN(d) AS dist
            FROM reach GROUP BY id, lm
        """,
        "q_hits": _hits_oracle_sql(),
        "q_ngram_jaccard": (
            f"WITH {_JACCARD_SQL_CTES} "
            "SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard FROM jac "
            "WHERE jaccard >= 0.5"
        ),
        "q_language_id": _language_id_oracle(),
        "q_quality_score": _quality_score_oracle(),
        "q_impute_missing": """
            WITH e AS (
                SELECT vec_id, label,
                       CASE WHEN vec_id % 7 = 0 THEN NULL
                            ELSE CAST(embedding AS DOUBLE[]) END AS v
                FROM embeddings
            ),
            means AS (
                SELECT label, pos, AVG(x) AS mx FROM (
                    SELECT label, unnest(range(len(v))) AS pos, unnest(v) AS x
                    FROM e WHERE v IS NOT NULL
                ) GROUP BY 1, 2
            ),
            exploded AS (
                SELECT e.vec_id, m.pos, m.mx AS x
                FROM e JOIN means m ON e.label = m.label WHERE e.v IS NULL
                UNION ALL
                SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x
                FROM e WHERE v IS NOT NULL
            )
            SELECT vec_id, CAST(pos AS INTEGER) AS pos, ROUND(x, 6) AS x
            FROM exploded
        """,
        # media stub features: per-chunk byte means over the UTF-8 bytes
        # (corpus is ASCII → unicode(char) == byte). Replays
        # multimodal._stub_features exactly: chunk = max(n//8, 1),
        # part i = bytes[i*chunk:(i+1)*chunk], empty part → 0.0.
        "q_media_features": """
            WITH base AS (
                SELECT doc_id, text, length(text) AS n,
                       greatest(length(text) // 8, 1) AS chunk,
                       [unicode(text[j:j]) for j in range(1, length(text) + 1)] AS b
                FROM documents WHERE doc_id < 100
            )
            SELECT doc_id AS media_id,
                   'text' AS kind,
                   CAST(n AS BIGINT) AS n_bytes,
                   substr(sha256(text), 1, 16) AS digest,
                   CAST(pos AS INTEGER) AS pos,
                   CASE WHEN len(b[pos * chunk + 1 : least((pos + 1) * chunk, n)]) > 0
                        THEN list_avg(b[pos * chunk + 1 : least((pos + 1) * chunk, n)]) / 255.0
                        ELSE 0.0 END AS feat
            FROM base, generate_series(0, 7) s(pos)
        """,
        # top-3 langs have strictly distinct counts at every tested sf
        # (no boundary tie for the sketch to resolve arbitrarily)
        "q_approx_topk": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS exact_n,
                   CAST(1 AS INTEGER) AS sketch_exact
            FROM documents GROUP BY lang
            ORDER BY count(*) DESC, lang LIMIT 3
        """,
        "q_token_counts_bpe": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
                       AS n_bpe_tokens
            FROM documents
        """,
        # winnowing fingerprint with the portable polynomial hash
        # (h = (h*31 + code) % 2^31-1 folded over each 16-char shingle's
        # code points; k=8 smallest distinct hashes, sorted)
        "q_doc_fingerprint": """
            WITH fp AS (
                SELECT doc_id,
                       list_slice(list_sort(list_distinct(
                           [ list_reduce(
                                 [CAST(0 AS BIGINT)] ||
                                 [CAST(unicode(text[p:p]) AS BIGINT)
                                  for p in range(i, least(i + 15, length(text)) + 1)],
                                 (a, c) -> (a * 31 + c) % 2147483647)
                             for i in range(1, greatest(length(text) - 15, 1) + 1) ]
                       )), 1, 8) AS f
                FROM documents WHERE doc_id < 50
            )
            SELECT doc_id,
                   CAST(generate_subscripts(f, 1) - 1 AS INTEGER) AS pos,
                   unnest(f) AS fp_hash
            FROM fp
        """,
        # self-certifying sketch contracts: exact values hash-compared,
        # the within_bound flag is 1 on the oracle side — the row hashes
        # equal iff Spark's sketch actually landed inside the bound
        "q_approx_distinct": """
            SELECT o_orderpriority,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
                   CAST(1 AS INTEGER) AS within_bound
            FROM orders GROUP BY o_orderpriority
        """,
        "q_approx_percentiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS p50_exact,
                   ROUND(quantile_cont(l_extendedprice, 0.9), 2) AS p90_exact,
                   CAST(1 AS INTEGER) AS within_bound
            FROM lineitem GROUP BY l_returnflag
        """,
        # --- round-5 widening: behavior sequences, distribution stats, OLAP ---
        "q_betweenness": _betweenness_oracle(),
        "q_mis": _mis_oracle(),
        "q_matching": _matching_oracle(),
        "q_stratified_sample": _stratified_sample_oracle(),
        "q_line_dedup": _line_dedup_oracle(),
        "q_host_boilerplate": _host_boilerplate_oracle(),
        "q_strip_boilerplate": _strip_boilerplate_oracle(),
        "q_cms_counts": _cms_oracle_sql(),
        "q_eccentricity": f"""
            {_apsp_cte()}
            SELECT id, MAX(d) AS ecc FROM mind WHERE d > 0 GROUP BY id
        """,
        "q_contamination": _contamination_oracle(),
        "q_repetition": _repetition_oracle(),
        "q_containment": (
            f"WITH {_JACCARD_SQL_CTES} "
            """
            SELECT p.id_a, p.id_b,
                   ROUND(p.common / CAST(sa.sz AS DOUBLE), 4) AS cont_a,
                   ROUND(p.common / CAST(sb.sz AS DOUBLE), 4) AS cont_b
            FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2) p
            JOIN sizes sa ON sa.doc_id = p.id_a
            JOIN sizes sb ON sb.doc_id = p.id_b
            WHERE greatest(p.common / CAST(sa.sz AS DOUBLE),
                           p.common / CAST(sb.sz AS DOUBLE)) >= 0.6
            """
        ),
        "q_cooccurrence": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS g, CAST(l_partkey % 50 AS BIGINT) AS it
                FROM lineitem
            ),
            sizes AS (SELECT g FROM items GROUP BY g HAVING COUNT(*) <= 200),
            kept AS (SELECT items.* FROM items SEMI JOIN sizes USING (g)),
            tot AS (SELECT COUNT(DISTINCT g) AS n FROM kept),
            item_n AS (SELECT it, COUNT(*) AS n_item FROM kept GROUP BY it),
            pairs AS (
                SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS n_ab
                FROM kept a JOIN kept b ON a.g = b.g AND a.it < b.it
                GROUP BY 1, 2 HAVING COUNT(*) >= 2
            )
            SELECT item_a, item_b, n_ab,
                   ROUND(n_ab * tot.n * 1.0 / (na.n_item * nb.n_item), 6) AS lift
            FROM pairs
            JOIN item_n na ON na.it = pairs.item_a
            JOIN item_n nb ON nb.it = pairs.item_b
            CROSS JOIN tot
        """,
        "q_sample_per_stratum": _sample_per_stratum_oracle(),
        "q_weighted_sample": _weighted_sample_oracle(),
        "q_msf": _msf_oracle_sql(),
        "q_vertex_cover": f"""
            WITH m AS ({_matching_oracle()})
            SELECT DISTINCT id FROM (
                SELECT u AS id FROM m UNION ALL SELECT v AS id FROM m)
        """,
        "q_crawl_schedule": _crawl_schedule_oracle(),
        "q_trending": """
            WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            lagged AS (
                SELECT day, event_type, n,
                       AVG(n) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
                       ) AS t_avg
                FROM daily
            )
            SELECT day, event_type, n,
                   ROUND(t_avg, 6) AS trailing_avg,
                   ROUND(n / t_avg, 6) AS lift
            FROM lagged WHERE t_avg IS NOT NULL
        """,
        "q_hop_histogram": f"""
            {_apsp_cte()},
            hist AS (
                SELECT d AS dist, CAST(count(*) AS BIGINT) AS n_pairs
                FROM mind WHERE d > 0 GROUP BY d
            ),
            tot AS (SELECT SUM(n_pairs) AS t FROM hist)
            SELECT dist, n_pairs,
                   CAST(SUM(n_pairs) OVER (ORDER BY dist) AS BIGINT) AS cum_pairs,
                   ROUND(CAST(SUM(n_pairs) OVER (ORDER BY dist) AS DOUBLE)
                         / (SELECT t FROM tot), 6) AS frac_cum
            FROM hist
        """,
        "q_funnel_steps": """
            WITH s1 AS (
                SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, MIN(e.ts) AS t FROM events e
                JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
                WHERE e.event_type = 'click' GROUP BY e.user_id
            ),
            s3 AS (
                SELECT e.user_id, MIN(e.ts) AS t FROM events e
                JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
                WHERE e.event_type = 'purchase' GROUP BY e.user_id
            )
            SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
                   CAST(count(*) AS BIGINT) AS users FROM s1
            UNION ALL
            SELECT CAST(2 AS INTEGER), 'click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT CAST(3 AS INTEGER), 'purchase', CAST(count(*) AS BIGINT) FROM s3
        """,
        "q_markov_transitions": """
            WITH seq AS (
                SELECT event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_type
                FROM events
            ),
            pairs AS (
                SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
                FROM seq WHERE prev_type IS NOT NULL
                GROUP BY prev_type, event_type
            )
            SELECT prev_type, event_type, n,
                   ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS prob
            FROM pairs
        """,
        "q_session_paths": """
            WITH seq AS (
                SELECT event_type,
                       LAG(event_type, 1) OVER w AS p1,
                       LAG(event_type, 2) OVER w AS p2
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path,
                   CAST(count(*) AS BIGINT) AS n_occurrences
            FROM seq WHERE p2 IS NOT NULL
            GROUP BY path
            ORDER BY n_occurrences DESC, path
            LIMIT 20
        """,
        "q_powerlaw_alpha": f"""
            WITH edges AS ({_EDGE_SQL_DERIVATION}),
            indeg AS (SELECT dst, count(*) AS degree FROM edges GROUP BY dst),
            hist AS (SELECT degree, count(*) AS n_nodes FROM indeg GROUP BY degree)
            SELECT ROUND(
                       1.0 + SUM(n_nodes) / SUM(n_nodes * LN(degree / 0.5)),
                       6
                   ) AS alpha,
                   CAST(SUM(n_nodes) AS BIGINT) AS n_tail
            FROM hist WHERE degree >= 1
        """,
        "q_gini_indegree": f"""
            WITH edges AS ({_EDGE_SQL_DERIVATION}),
            indeg AS (SELECT dst, count(*) AS degree FROM edges GROUP BY dst),
            hist AS (SELECT degree, count(*) AS n_nodes FROM indeg GROUP BY degree),
            ranked AS (
                SELECT CAST(degree AS DOUBLE) AS d,
                       CAST(n_nodes AS DOUBLE) AS c,
                       SUM(CAST(n_nodes AS DOUBLE)) OVER (
                           ORDER BY CAST(degree AS DOUBLE)
                       ) AS cum
                FROM hist
            )
            SELECT ROUND(
                       2.0 * SUM(d * (cum - c + 1 + cum) * c / 2.0)
                           / (SUM(c) * SUM(d * c))
                       - (SUM(c) + 1) / SUM(c),
                       6
                   ) AS gini
            FROM ranked
        """,
        "q_source_lang_entropy": """
            WITH counts AS (
                SELECT source, lang, CAST(count(*) AS BIGINT) AS n
                FROM documents GROUP BY source, lang
            ),
            probs AS (
                SELECT source, n,
                       n / SUM(n) OVER (PARTITION BY source) AS p
                FROM counts
            )
            SELECT source,
                   ROUND(-SUM(p * LN(p)), 6) AS entropy,
                   CAST(SUM(n) AS BIGINT) AS n_docs
            FROM probs GROUP BY source
        """,
        "q_grouping_sets": """
            SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                   COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                   CAST(count(*) AS BIGINT) AS n,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        "q_pivot_event_values": """
            SELECT CAST(user_id % 10 AS INTEGER) AS bucket,
                   ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0.0), 2) AS view,
                   ROUND(COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0.0), 2) AS click,
                   ROUND(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN value END), 0.0), 2) AS signup,
                   ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0.0), 2) AS purchase,
                   ROUND(COALESCE(SUM(CASE WHEN event_type = 'error' THEN value END), 0.0), 2) AS error
            FROM events GROUP BY bucket
        """,
        "q_ntile_cume": """
            SELECT o_orderkey,
                   CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                   ROUND(percent_rank() OVER w, 6) AS pct_rank,
                   ROUND(cume_dist() OVER w, 6) AS cume
            FROM orders WHERE o_custkey < 100
            WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
        """,
        "q_zorder": _zorder_oracle_sql(),
        "q_moments": """
            WITH s AS (
                SELECT o_orderpriority,
                       CAST(count(*) AS DOUBLE) AS n,
                       SUM(o_totalprice) AS s1,
                       SUM(o_totalprice * o_totalprice) AS s2,
                       SUM(o_totalprice * o_totalprice * o_totalprice) AS s3,
                       SUM(o_totalprice * o_totalprice * o_totalprice
                           * o_totalprice) AS s4
                FROM orders GROUP BY o_orderpriority
            ),
            m AS (
                SELECT o_orderpriority, n, s1 / n AS mu,
                       s2 / n - (s1/n)*(s1/n) AS m2,
                       s3 / n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n) AS m3,
                       s4 / n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n
                           - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS m4
                FROM s
            )
            SELECT o_orderpriority,
                   CAST(n AS BIGINT) AS n,
                   ROUND(mu, 4) AS mean,
                   ROUND(m3 / pow(m2, 1.5), 6) AS skewness,
                   ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis
            FROM m
        """,
        "q_corr_stats": """
            SELECT l_returnflag,
                   ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                   ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
                   ROUND(stddev_samp(l_extendedprice), 4) AS std_price
            FROM lineitem GROUP BY l_returnflag
        """,
    }
