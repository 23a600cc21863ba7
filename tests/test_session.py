"""Session defaults come from the host the session starts on (no Spark
session is started here: the derivation is a pure function)."""

from __future__ import annotations

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
    fallback = _parallelism_of("spark://cluster:7077")
    assert fallback == _parallelism_of("local[*]") and fallback >= 1
