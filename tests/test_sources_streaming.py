"""Sources/sinks, streaming windows, multimodal plumbing, imputation."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from plwordnet_spark.multimodal import extract_media_features
from plwordnet_spark.sources.dims import read_relation_weights
from plwordnet_spark.sources.io import load_graph, read_jsonl, save_graph, write_jsonl
from plwordnet_spark.sources.xml_lmf import parse_lmf_entries
from plwordnet_spark.streaming.windows import (
    read_event_stream,
    sessionize_events,
    windowed_event_counts,
)
from plwordnet_spark.vectors.pooling import impute_missing_by_group


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "ala ma kota", 0.5), (2, "kot ma ale", 0.9)],
        "sid long, text string, w double",
    )
    path = str(tmp_path / "samples_jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, "sid long, text string, w double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_graph_save_load_cohesion(spark, tmp_path):
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph

    tables = build_graph(generate_pages(spark, 100, 42))
    out = str(tmp_path / "graph")
    manifest = save_graph(tables.nodes, tables.edges, out)
    nodes, edges, manifest2 = load_graph(spark, out)
    assert manifest["edge_count"] == manifest2["edge_count"] == edges.count()
    assert nodes.count() == manifest["node_count"]


def test_relation_weights_csv(spark, tmp_path):
    csv = tmp_path / "weights.csv"
    csv.write_text("rel_id,name,weight\n1,hiperonimia,1.0\n2,antonimia,0.14\n")
    dim = read_relation_weights(spark, str(csv))
    rows = {r.rel_id: r.weight for r in dim.collect()}
    assert rows == {1: 1.0, 2: 0.14}


def test_xml_lmf_parse(spark):
    xml = """<LexicalResource><Lexicon>
      <LexicalEntry id="w1">
        <Lemma writtenForm="dom" partOfSpeech="n"/>
        <Sense id="s1" synset="syn-1"/>
        <Sense id="s2" synset="syn-2"/>
      </LexicalEntry>
      <LexicalEntry id="w2">
        <Lemma writtenForm="kot &amp; pies" partOfSpeech="n"/>
        <Sense id="s3" synset="syn-3"/>
      </LexicalEntry>
    </Lexicon></LexicalResource>"""
    df = spark.createDataFrame([(xml,)], "xml string")
    rows = parse_lmf_entries(df).collect()
    assert len(rows) == 3
    by_sense = {r.sense_id: r for r in rows}
    assert by_sense["s1"].written_form == "dom"
    assert by_sense["s1"].synset_id == "syn-1"
    assert by_sense["s3"].written_form == "kot & pies"  # entity unescape


def test_windowed_counts_stream_equals_batch(spark, sf_dir, tmp_path):
    import shutil

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = sorted(
        map(tuple, windowed_event_counts(batch, window="1 hour").collect())
    )
    # file-stream sources consume directories; stage the table as one
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0000.parquet")
    stream = read_event_stream(spark, str(src_dir), max_files_per_trigger=1)
    out = windowed_event_counts(stream, window="1 hour")
    query = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    query.processAllAvailable()
    got = sorted(map(tuple, spark.sql("SELECT * FROM win_counts").collect()))
    query.stop()
    assert got == expected


def test_sessionize_batch(spark, sf_dir):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sessions = sessionize_events(batch, gap="30 minutes")
    row = sessions.first()
    assert row.session_end >= row.session_start
    assert sessions.count() > 0


def test_media_features_stub(spark):
    rows = [
        (1, "image", "image/png", bytes(range(256)) * 4, None),
        (2, "audio", "audio/wav", b"\x00" * 1024, None),
        (3, "image", "image/png", b"", None),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, data binary, meta map<string,string>"
    )
    feats = {r.media_id: r for r in extract_media_features(media).collect()}
    assert feats[1].n_bytes == 1024 and len(feats[1].features) == 8
    assert feats[2].features == [0.0] * 8
    assert feats[3].features == [0.0] * 8
    # determinism
    again = {r.media_id: r for r in extract_media_features(media).collect()}
    assert feats[1].digest == again[1].digest


def test_impute_missing_by_group(spark):
    rows = [
        (100, 1, [1.0, 3.0]),
        (100, 2, [3.0, 5.0]),
        (100, 3, None),
        (200, 4, None),  # group with no vectors at all
    ]
    df = spark.createDataFrame(rows, "group_id long, nid long, embedding array<double>")
    out = {r.nid: r.embedding for r in impute_missing_by_group(df, ["group_id"]).collect()}
    assert np.allclose(out[3], [2.0, 4.0])
    assert out[1] == [1.0, 3.0]
    assert out[4] is None


def test_export_pipelines(spark):
    from plwordnet_spark.datasets.export import build_pair_dataset, export_relgat_triplets

    samples = spark.createDataFrame(
        [
            ("Pierwsze zdanie o kotach rasowych. Drugie zdanie o psach rasowych.",
             "Zdanie potomne o zwierzetach domowych.", 0.9),
            ("Krotki tekst.", "Inny krotki tekst.", 0.3),
        ],
        "text_parent string, text_child string, relation_weight double",
    )
    pairs = build_pair_dataset(samples, train_ratio=0.5, seed=3, min_text_len=20)
    rows = pairs.collect()
    assert rows, "pairs produced"
    assert all(len(r.sentence1) >= 20 and len(r.sentence2) >= 20 for r in rows)
    assert set(r.split for r in rows) <= {"train", "test"}
    # test priority: no train key duplicated in test
    keys = {}
    for r in rows:
        keys.setdefault((r.sentence1, r.sentence2), set()).add(r.split)
    assert all(len(v) == 1 for v in keys.values())

    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 11), (3, 9, 11), (9, 1, 12)],
        "src long, dst long, rel_id int",
    )
    rel_names = spark.createDataFrame(
        [(10, "hiperonimia"), (11, "antonimia"), (12, "meronimia")],
        "rel_id int, name string",
    )
    embeddings = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    triplets, mapping = export_relgat_triplets(edges, rel_names, embeddings)
    trows = {(r.src, r.dst, r.rel_idx) for r in triplets.collect()}
    mrows = {r.name: r.rel_idx for r in mapping.collect()}
    # edges touching node 9 (no embedding) filtered out (J5)
    assert mrows == {"antonimia": 0, "hiperonimia": 1}  # dense ids by name
    assert trows == {(1, 2, 1), (2, 3, 0)}


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    import shutil

    from plwordnet_spark.streaming.stateful import running_user_totals
    from plwordnet_spark.streaming.windows import read_event_stream

    src_dir = tmp_path / "events_state_in"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0000.parquet")
    stream = read_event_stream(spark, str(src_dir))
    out = running_user_totals(stream)
    query = (
        out.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .start()
    )
    query.processAllAvailable()
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM user_totals WHERE NOT finalized").collect()
    }
    query.stop()
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import functions as F

    expected = {
        r.user_id: (r.n, round(r.t, 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("t"))
        .collect()
    }
    assert set(expected) == set(got)
    for uid, (n, t) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - t) < 1e-4


def _stage_page_files(pages, src_dir) -> None:
    """Write the 150 generated pages as three separate parquet dirs, so
    a ``maxFilesPerTrigger=1`` stream over them runs three micro-batches."""
    src_dir.mkdir()
    for i, frac in enumerate([(0, 50), (50, 100), (100, 150)]):
        (
            pages.filter(
                f"cast(split_part(url, '/p/', 2) as long) >= {frac[0]} and "
                f"cast(split_part(url, '/p/', 2) as long) < {frac[1]}"
            )
            .coalesce(1)
            .write.parquet(str(src_dir / f"batch{i}"))
        )


def test_streaming_ingest_equals_batch_build(spark, tmp_path):
    """Page stream → incremental edge merges == one-shot batch build
    (streaming crawl ingestion end-to-end; micro-batches forced by
    maxFilesPerTrigger=1 over multiple files)."""
    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph
    from plwordnet_spark.streaming.ingest import (
        EdgeLog,
        read_page_stream,
        stream_pages_to_edges,
    )

    pages = generate_pages(spark, 150, 42).cache()
    src_dir = tmp_path / "pages_in"
    _stage_page_files(pages, src_dir)
    stream = read_page_stream(spark, str(src_dir) + "/*", max_files_per_trigger=1)
    edges_dir = str(tmp_path / "edges_snap")
    query = stream_pages_to_edges(
        spark, stream, edges_dir, str(tmp_path / "ingest_ckpt")
    )
    query.awaitTermination(120)

    log = EdgeLog(spark, edges_dir)
    manifest = log.store.manifest()
    assert len(manifest) >= 2  # incremental merges happened
    assert sum(
        e["metrics"].get("pages_in_batch", 0) for e in manifest
    ) == 150
    final, _ = log.latest()
    got = {(r.src, r.dst, r.rel_id): r.weight for r in final.collect()}
    batch = build_graph(pages).edges
    want = {
        (r.src, r.dst, r.rel_id): r.weight
        for r in batch.select("src", "dst", "rel_id", "weight").collect()
    }
    assert got == want
    pages.unpersist()


def test_stream_and_pagerank_share_session(spark, tmp_path, monkeypatch):
    """A streaming ingest and a PageRank loop running at once in ONE
    session: both results stay exact, and the session's AQE and shuffle
    width read the same before, inside the stream's micro-batches while
    the loop is underway, and after — no loop writes the shared conf."""
    import threading
    import time

    import networkx as nx
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python
    from pyspark import InheritableThread

    from plwordnet_spark.corpus import generate_pages
    from plwordnet_spark.graph.build import build_graph
    from plwordnet_spark.graph.pagerank import pagerank
    from plwordnet_spark.streaming.ingest import (
        EdgeLog,
        read_page_stream,
        stream_pages_to_edges,
    )

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

    def conf() -> tuple:
        return tuple(spark.conf.get(k) for k in keys)

    pages = generate_pages(spark, 150, 42).cache()
    edges = build_graph(pages).edges.select("src", "dst", "rel_id", "weight").cache()
    want = {(r.src, r.dst, r.rel_id): r.weight for r in edges.collect()}
    src_dir = tmp_path / "pages_in"
    _stage_page_files(pages, src_dir)
    before = conf()

    group = "pagerank-beside-stream"
    tracker = spark.sparkContext.statusTracker()
    loop_done = threading.Event()
    outcome: dict = {}

    def run_pagerank() -> None:
        spark.sparkContext.setJobGroup(group, "pagerank beside a stream")
        try:
            outcome["result"] = pagerank(spark, edges, tol=1e-8, max_iterations=200)
        except BaseException as exc:  # surfaced by the main thread
            outcome["error"] = exc
        finally:
            loop_done.set()

    # every micro-batch samples the shared conf; it first waits until the
    # loop is past its setup jobs, so the first sample lands mid-loop
    samples: list[tuple[tuple, bool]] = []
    merge = EdgeLog.merge_batch

    def sampling_merge(self, batch_pages, batch_id):
        deadline = time.time() + 120
        while (
            not loop_done.is_set()
            and len(tracker.getJobIdsForGroup(group)) < 10
            and time.time() < deadline
        ):
            time.sleep(0.05)
        sample = conf()
        samples.append((sample, not loop_done.is_set()))
        return merge(self, batch_pages, batch_id)

    monkeypatch.setattr(EdgeLog, "merge_batch", sampling_merge)

    stream = read_page_stream(spark, str(src_dir) + "/*", max_files_per_trigger=1)
    edges_dir = str(tmp_path / "edges_snap")
    query = stream_pages_to_edges(
        spark, stream, edges_dir, str(tmp_path / "ingest_ckpt")
    )
    ranker = InheritableThread(target=run_pagerank)
    ranker.start()
    query.awaitTermination(180)
    ranker.join(180)
    after = conf()

    assert query.exception() is None
    assert "error" not in outcome, outcome.get("error")
    final, _ = EdgeLog(spark, edges_dir).latest()
    assert {(r.src, r.dst, r.rel_id): r.weight for r in final.collect()} == want

    result = outcome["result"]
    assert result.converged
    got = {r.id: r.rank for r in result.state.collect()}
    g = nx.DiGraph()
    for (src, dst, _rel), w in want.items():
        prev = g.get_edge_data(src, dst, {"weight": 0.0})["weight"]
        g.add_edge(src, dst, weight=prev + w)
    # networkx's pure-Python power iteration (its public entry needs scipy)
    expected = _pagerank_python(g, alpha=0.85, tol=1e-8, max_iter=200)
    assert set(got) == set(expected)
    ids = sorted(expected)
    assert np.allclose(
        [got[i] for i in ids], [expected[i] for i in ids], rtol=0, atol=1e-6
    )

    assert len(samples) >= 2  # incremental merges happened
    assert any(during for _, during in samples), "no batch ran during the loop"
    assert all(sample == before for sample, _ in samples), (before, samples)
    assert after == before
    edges.unpersist()
    pages.unpersist()
