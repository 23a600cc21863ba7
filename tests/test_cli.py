"""CLI surface: subcommands run end-to-end in-process."""

from __future__ import annotations

import json

import pytest

from plwordnet_spark import cli


@pytest.fixture(autouse=True)
def _reuse_test_session(spark, monkeypatch):
    """Reuse the test SparkSession instead of building one per command."""
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    yield


def test_cli_graph_pipeline(tmp_path, capsys):
    graph_dir = str(tmp_path / "g")
    assert cli.main([
        "build-graph", "--n-pages", "300", "--output", graph_dir,
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["validation"]["id_collisions"] == 0

    assert cli.main(["pagerank", "--graph", graph_dir]) == 0
    pr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pr["converged"]

    assert cli.main(["components", "--graph", graph_dir]) == 0
    cc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cc["components"] >= 1

    assert cli.main(["triangles", "--graph", graph_dir]) == 0
    tri = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tri["triangles"] >= 0

    assert cli.main(["hits", "--graph", graph_dir, "--max-iterations", "20"]) == 0
    h = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert h["iterations"] >= 1

    import pyarrow.parquet as pq
    import glob as _glob
    node_file = sorted(_glob.glob(f"{graph_dir}/nodes/*.parquet"))[0]
    seed = int(pq.read_table(node_file, columns=["id"]).column("id")[0].as_py())
    assert cli.main(["bfs", "--graph", graph_dir, "--sources", str(seed)]) == 0
    b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert b["reached"] >= 1


def test_cli_export_dataset(spark, tmp_path, capsys):
    samples = spark.createDataFrame(
        [
            (f"parent text number {i} with padding", f"child text number {i} padded",
             i, "hiperonimia", 0.5 if i % 2 else 0.05)
            for i in range(30)
        ],
        "text_parent string, text_child string, relation_id int, "
        "relation_name string, relation_weight double",
    )
    samples_path = str(tmp_path / "samples")
    samples.write.parquet(samples_path)
    out = str(tmp_path / "dataset")
    assert cli.main([
        "export-dataset", "--samples", samples_path, "--output", out,
        "--cut-weight", "0.14", "--ratio", "2.0",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["low"] == 15 and report["high"] == 15
    assert report["total"] >= 30
