"""Synchronous Louvain phase-1: pure-Python round replay, two-clique
separation, and modularity improvement over the initial partition."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from plwordnet_spark.graph.louvain import louvain_move_phase
from plwordnet_spark.storage.snapshots import SnapshotStore


def _py_louvain(edge_list, rounds):
    und = defaultdict(float)
    for u, v in edge_list:
        if u != v:
            a, b = min(u, v), max(u, v)
            und[(a, b)] += 1.0
    adj = defaultdict(dict)
    for (a, b), w in und.items():
        adj[a][b] = adj[a].get(b, 0.0) + w
        adj[b][a] = adj[b].get(a, 0.0) + w
    deg = {i: sum(adj[i].values()) for i in adj}
    m2 = sum(deg.values())
    lab = {i: i for i in adj}
    for r in range(1, rounds + 1):
        tot = defaultdict(float)
        for i in adj:
            tot[lab[i]] += deg[i]
        new = dict(lab)
        for i in adj:
            if i % 2 != (r - 1) % 2:
                continue
            kic = defaultdict(float)
            for j, w in adj[i].items():
                kic[lab[j]] += w
            kic[lab[i]] += 0.0
            best, best_score = None, None
            for c in sorted(kic):
                t = tot[c] - (deg[i] if c == lab[i] else 0.0)
                score = kic[c] - deg[i] * t / m2
                if best_score is None or score > best_score:
                    best, best_score = c, score
            new[i] = best
        lab = new
    return lab


class TestLouvain:
    def test_matches_python_replay(self, spark):
        rng = random.Random(77)
        edges = [(rng.randrange(24), rng.randrange(24)) for _ in range(90)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["id"]: r["label"]
            for r in louvain_move_phase(spark, df, rounds=5).collect()
        }
        assert got == _py_louvain(edges, 5)

    def test_two_cliques_separate(self, spark):
        ca = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        cb = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
        bridge = [(0, 10)]
        df = spark.createDataFrame(ca + cb + bridge, "src long, dst long")
        got = {
            r["id"]: r["label"]
            for r in louvain_move_phase(spark, df, rounds=6).collect()
        }
        assert len({got[i] for i in range(5)}) == 1
        assert len({got[i] for i in range(10, 15)}) == 1
        assert got[0] != got[10]

    def test_modularity_improves_over_singletons(self, spark):
        from plwordnet_spark.graph.stats import modularity

        rng = random.Random(5)
        # planted partition: 3 dense groups of 8, sparse between
        edges = []
        for g in range(3):
            ids = list(range(g * 8, g * 8 + 8))
            for i in ids:
                for j in ids:
                    if i < j and rng.random() < 0.7:
                        edges.append((i, j))
        for _ in range(10):
            edges.append((rng.randrange(24), rng.randrange(24)))
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")
        from pyspark.sql import functions as F

        labels = louvain_move_phase(spark, df, rounds=6)
        comm = labels.select("id", F.col("label").alias("community"))
        q_final = modularity(df, comm).first()["modularity"]
        singles = labels.select("id", F.col("id").alias("community"))
        q0 = modularity(df, singles).first()["modularity"]
        assert q_final > q0
        assert q_final > 0.3  # planted structure recovered


class TestContraction:
    def test_contract_preserves_weight_and_modularity_level2(self, spark):
        import random

        from pyspark.sql import functions as F

        from plwordnet_spark.graph.louvain import contract_graph

        rng = random.Random(9)
        edges = []
        for g in range(4):
            ids = list(range(g * 6, g * 6 + 6))
            for i in ids:
                for j in ids:
                    if i < j and rng.random() < 0.8:
                        edges.append((i, j))
        edges += [(0, 6), (6, 12), (12, 18), (18, 0)]
        df = spark.createDataFrame(edges, "src long, dst long")
        labels = louvain_move_phase(spark, df, rounds=6)
        sg = contract_graph(df, labels).cache()
        # total weight preserved (self-loops carry intra-community mass)
        assert sg.agg(F.sum("w")).first()[0] == len(set(
            (min(u, v), max(u, v)) for u, v in edges
        ))
        # supergraph nodes == distinct labels
        n_labels = labels.select("label").distinct().count()
        n_super = sg.select(F.col("a").alias("x")).unionByName(
            sg.select(F.col("b").alias("x"))).distinct().count()
        assert n_super == n_labels
        # self-loop rows exist for the dense groups
        assert sg.filter("a = b").count() >= 4
        sg.unpersist()

    def test_contract_two_triangles(self, spark):
        from plwordnet_spark.graph.louvain import contract_graph

        edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
        df = spark.createDataFrame(edges, "src long, dst long")
        labels = spark.createDataFrame(
            [(i, 0) for i in (0, 1, 2)] + [(i, 10) for i in (10, 11, 12)],
            "id long, label long",
        )
        got = {
            (r["a"], r["b"]): r["w"]
            for r in contract_graph(df, labels).collect()
        }
        assert got == {(0, 0): 3.0, (10, 10): 3.0, (0, 10): 1.0}


class TestMultiLevel:
    def test_two_level_equals_manual_composition(self, spark):
        import random

        from pyspark.sql import functions as F

        from plwordnet_spark.graph.louvain import (
            contract_graph,
            louvain,
            louvain_move_phase,
        )

        rng = random.Random(3)
        edges = []
        for g in range(4):
            ids = list(range(g * 6, g * 6 + 6))
            for i in ids:
                for j in ids:
                    if i < j and rng.random() < 0.7:
                        edges.append((i, j))
        edges += [(0, 6), (6, 12), (12, 18)]
        df = spark.createDataFrame(edges, "src long, dst long")

        got = {
            r["id"]: r["label"]
            for r in louvain(spark, df, levels=2, rounds_per_level=4).collect()
        }
        l1 = louvain_move_phase(spark, df, rounds=4)
        sg = contract_graph(df, l1).select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "w"
        )
        l2 = louvain_move_phase(spark, sg, rounds=4, weight_col="w")
        manual = {
            r["id"]: r["up"]
            for r in l1.join(
                l2.select(F.col("id").alias("label"), F.col("label").alias("up")),
                "label",
            ).collect()
        }
        assert got == manual

    def test_selfloop_degree_matches_python(self, spark):
        # supergraph with self-loops: k_i must include 2*w_self; replay
        # one synchronous round in python and compare
        from plwordnet_spark.graph.louvain import louvain_move_phase

        rows = [(0, 0, 6.0), (1, 1, 2.0), (0, 1, 1.0), (1, 2, 3.0), (0, 2, 1.0)]
        df = spark.createDataFrame(rows, "src long, dst long, w double")
        got = {
            r["id"]: r["label"]
            for r in louvain_move_phase(spark, df, rounds=1, weight_col="w").collect()
        }

        und = {(0, 0): 6.0, (1, 1): 2.0, (0, 1): 1.0, (1, 2): 3.0, (0, 2): 1.0}
        adj = {0: {1: 1.0, 2: 1.0}, 1: {0: 1.0, 2: 3.0}, 2: {0: 1.0, 1: 3.0}}
        deg = {
            i: sum(adj[i].values()) + 2.0 * und.get((i, i), 0.0) for i in adj
        }
        m2 = sum(deg.values())
        lab = {i: i for i in adj}
        new = {}
        for i in adj:
            if i % 2 != 0:  # round 1 activates even ids
                new[i] = lab[i]
                continue
            scores = {}
            cands = {lab[j] for j in adj[i]} | {lab[i]}
            for c in sorted(cands):
                kic = sum(w for j, w in adj[i].items() if lab[j] == c)
                t = sum(deg[x] for x in adj if lab[x] == c)
                t -= deg[i] if c == lab[i] else 0.0
                scores[c] = kic - deg[i] * t / m2
            new[i] = max(sorted(scores), key=lambda c: (scores[c], -c))
        assert got == new

    def test_level2_modularity_not_worse(self, spark):
        import random

        from pyspark.sql import functions as F

        from plwordnet_spark.graph.louvain import louvain, louvain_move_phase
        from plwordnet_spark.graph.stats import modularity

        rng = random.Random(11)
        edges = []
        for g in range(6):
            ids = list(range(g * 5, g * 5 + 5))
            for i in ids:
                for j in ids:
                    if i < j and rng.random() < 0.8:
                        edges.append((i, j))
        for _ in range(8):
            edges.append((rng.randrange(30), rng.randrange(30)))
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")
        q1 = modularity(
            df,
            louvain_move_phase(spark, df, rounds=4).select(
                "id", F.col("label").alias("community")
            ),
        ).first()["modularity"]
        q2 = modularity(
            df,
            louvain(spark, df, levels=2, rounds_per_level=4).select(
                "id", F.col("label").alias("community")
            ),
        ).first()["modularity"]
        assert q2 >= q1 - 1e-9


class TestCheckpointResume:
    # an odd kill round resumes on the other parity half
    @pytest.mark.parametrize("kill_round", [1, 2, 3])
    def test_kill_and_resume_matches_uninterrupted(self, spark, tmp_path, kill_round):
        import random

        rng = random.Random(13)
        edges = [(rng.randrange(24), rng.randrange(24)) for _ in range(80)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")

        full = {
            r["id"]: r["label"]
            for r in louvain_move_phase(spark, df, rounds=5).collect()
        }
        ckpt = str(tmp_path / "ck")
        # "killed" run: only kill_round of 5 rounds complete; its last
        # round is always snapshotted
        louvain_move_phase(
            spark, df, rounds=kill_round, checkpoint_dir=ckpt, checkpoint_interval=2
        )
        assert SnapshotStore(spark, ckpt).manifest()[-1]["iteration"] == kill_round
        resumed = {
            r["id"]: r["label"]
            for r in louvain_move_phase(
                spark, df, rounds=5, checkpoint_dir=ckpt, resume=True
            ).collect()
        }
        assert resumed == full

    def test_resume_with_empty_store_starts_cold(self, spark, tmp_path):
        edges = [(0, 1), (1, 2), (2, 0)]
        df = spark.createDataFrame(edges, "src long, dst long")
        cold = {
            r["id"]: r["label"]
            for r in louvain_move_phase(spark, df, rounds=3).collect()
        }
        warm = {
            r["id"]: r["label"]
            for r in louvain_move_phase(
                spark, df, rounds=3,
                checkpoint_dir=str(tmp_path / "empty"), resume=True,
            ).collect()
        }
        assert warm == cold
