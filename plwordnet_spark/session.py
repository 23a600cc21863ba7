"""SparkSession factory with scale-oriented defaults.

Local mode is a correctness harness; the configs are chosen so the same
logical plans behave well on a multi-executor cluster:

* AQE on (runtime coalesce, skew-join splitting),
* Arrow on — every Python touchpoint is an Arrow batch, never a row
  (BASELINE.json input_hint: "no per-row Python"),
* shuffle partitions sized to the parallelism level instead of the 200
  default,
* one config for everything: graph loops run under these settings and
  never write the session conf, so a streaming query or a second loop
  sharing the session sees the same config the whole time,
* master and driver memory derived from the host the session starts on
  (its usable CPUs, half its physical memory), overridable via
  ``$SPARK_GRAFT_CPUS`` / ``$SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import os
import re
import tempfile
import zipfile
from collections.abc import Mapping

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "write_package_zip"]

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


def write_package_zip(zip_path: str) -> str:
    """Write this package's ``.py`` files to ``zip_path`` under
    ``plwordnet_spark/`` — the ``--py-files`` artifact, used both for
    ``spark-submit`` and by :func:`get_spark` for local workers."""
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(_PACKAGE_DIR):
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, _PACKAGE_DIR)
                    zf.write(full, os.path.join("plwordnet_spark", rel))
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors — the local-mode equivalent of
    ``spark-submit --py-files`` (north rule launch mode). Without it,
    pandas-UDF workers started from another CWD can't unpickle functions
    defined in this package. A package imported from a zip (already
    shipped by ``--py-files``) is not a directory and is not shipped
    again.

    The zip name carries a content token (package path + newest .py
    mtime), not just the pid: a pid-only name let a pid-recycled process
    from a different checkout (or an edited tree) reuse a stale zip and
    silently ship OLD worker code — observed as a cross-version
    KeyError in a worker-side gather during A/B measurement."""
    import hashlib

    if not os.path.isdir(_PACKAGE_DIR):
        return
    newest = 0.0
    for root, _dirs, files in os.walk(_PACKAGE_DIR):
        for name in files:
            if name.endswith(".py"):
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, name)))
                except OSError:
                    pass
    token = hashlib.sha256(f"{_PACKAGE_DIR}:{newest}".encode()).hexdigest()[:12]
    zip_path = os.path.join(
        tempfile.gettempdir(), f"plwordnet_spark_pyfiles_{os.getpid()}_{token}.zip"
    )
    if not os.path.exists(zip_path):
        write_package_zip(zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the machine's)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _read_meminfo() -> str:
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            return fh.read()
    except OSError:
        return ""


def _host_defaults(env: Mapping[str, str], cpus: int, meminfo: str) -> tuple[str, str | None]:
    """(master, driver memory) for a host with ``cpus`` CPUs and the
    given ``/proc/meminfo`` text: ``local[cpus]`` and half of MemTotal,
    unless ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override
    them. Memory is None (Spark's own default) when MemTotal is unknown."""
    master = f"local[{int(env.get('SPARK_GRAFT_CPUS') or cpus)}]"
    memory = env.get("SPARK_GRAFT_DRIVER_MEM")
    if memory is None:
        for line in meminfo.splitlines():
            if line.startswith("MemTotal:"):
                memory = f"{int(line.split()[1]) // 2048}m"  # kB → half, in MiB
    return master, memory


def get_spark(
    app_name: str = "plwordnet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else one core
    per usable host CPU; driver memory to ``$SPARK_GRAFT_DRIVER_MEM``,
    else half the host's physical memory. ``shuffle_partitions``
    defaults to the core count — on a real cluster this would be ~2-3x
    total cores; matching cores avoids tiny-partition overhead at local
    scale while AQE coalesces further at runtime.
    """
    default_master, driver_memory = _host_defaults(os.environ, _host_cpus(), _read_meminfo())
    master = master or default_master
    if shuffle_partitions is None:
        shuffle_partitions = _parallelism_of(master)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if driver_memory is not None:
        builder = builder.config("spark.driver.memory", driver_memory)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def stop_spark() -> None:
    """Stop the active session if any (used between scaling runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def _parallelism_of(master: str) -> int:
    """Task slots of a local master: N of ``local[N]``, n*c of
    ``local-cluster[n,c,m]`` (n executors of c cores); the host's CPU
    count for any other master."""
    m = re.fullmatch(r"local\[(\d+)\]|local-cluster\[(\d+),\s*(\d+),\s*\d+\]", master)
    if m is None:
        return _host_cpus()
    return int(m[1]) if m[1] else int(m[2]) * int(m[3])
