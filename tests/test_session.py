"""Session defaults come from the host the session starts on (no Spark
session is started here: the derivation is a pure function)."""

from __future__ import annotations

import pathlib
import re

import plwordnet_spark
from plwordnet_spark.session import _host_defaults, _parallelism_of

MEMINFO = "MemTotal:       16456384 kB\nMemFree:        15152188 kB\n"


def test_defaults_follow_host_cpus_and_half_memory():
    assert _host_defaults({}, 4, MEMINFO) == ("local[4]", "8035m")
    assert _host_defaults({}, 96, "MemTotal: 2097152 kB\n") == ("local[96]", "1024m")


def test_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert _host_defaults(env, 4, MEMINFO) == ("local[2]", "3g")


def test_unknown_memory_leaves_spark_default():
    assert _host_defaults({}, 4, "") == ("local[4]", None)


def test_parallelism_of_explicit_and_fallback():
    assert _parallelism_of("local[3]") == 3
    assert _parallelism_of("local-cluster[2,1,1024]") == 2
    fallback = _parallelism_of("spark://cluster:7077")
    assert fallback == _parallelism_of("local[*]") and fallback >= 1


def test_engine_never_writes_session_conf():
    """Graph loops, streams and readers share one session: no module of
    the engine may set or unset its conf (pure source scan)."""
    root = pathlib.Path(plwordnet_spark.__file__).parent
    writers = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if re.search(r"conf\.(set|unset)\(", line)
    ]
    assert writers == []


def test_graph_loops_checkpoint_through_the_runner():
    """Loops checkpoint and resume through ``PregelRunner``: under
    ``graph/`` only the runner and delta-stepping's two-phase rounds
    open a ``SnapshotStore``, and no loop keeps a private lineage-cut
    cadence (``truncate_every``) — pure source scan."""
    root = pathlib.Path(plwordnet_spark.__file__).parent / "graph"
    sources = {path.name: path.read_text(encoding="utf-8") for path in root.rglob("*.py")}
    assert sorted(name for name, text in sources.items() if "SnapshotStore(" in text) == [
        "bfs.py",
        "pregel.py",
    ]
    assert [name for name, text in sources.items() if "truncate_every" in text] == []
