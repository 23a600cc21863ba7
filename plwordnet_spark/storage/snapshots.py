"""Versioned snapshot store: Parquet directories + a JSON manifest.

The north rule asks for Iceberg-snapshot checkpoints carrying
per-partition lineage and iteration metrics. The sandbox has no Iceberg
jars (SURVEY.md §7 risk list), so this module implements the same
contract over plain Parquet: every snapshot is an immutable directory
``<root>/snap_<NNNNNN>`` plus an atomic manifest entry recording

* snapshot id, iteration number, wall-clock timestamp,
* job metrics (delta, rows, seconds — whatever the job reports),
* per-partition lineage: one record per written file (partition index,
  file name, row count) — the Parquet-level analog of an Iceberg
  manifest's data-file list.

The writer interface is deliberately narrow so an Iceberg catalog is a
drop-in replacement (``df.writeTo(table).createOrReplace`` + snapshot
metadata) on a real cluster.

Reference analog: the pickle checkpoint dirs + JSON mapping files of
db_to_nx.py:187-221 and the resumable skip-already-done pattern of
plwordnet_ml/.../wrappers.py:292-304, upgraded with atomicity and
metrics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

__all__ = ["SnapshotStore"]

_MANIFEST = "manifest.json"


class SnapshotStore:
    """Append-only snapshot log for one logical table (e.g. pregel state)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def manifest(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path, encoding="utf-8") as fh:
            return json.load(fh)

    def _write_manifest(self, entries: list[dict]) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(entries, fh, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit of the snapshot

    # -- write / read ------------------------------------------------------
    def write(self, df: DataFrame, iteration: int, metrics: dict | None = None) -> dict:
        """Persist ``df`` as the next snapshot; return its manifest entry.
        Implemented as stage + commit so the snapshot id is assigned at
        COMMIT time (two concurrent stages cannot collide on a path). A
        caller that continues iterating on the snapshot (lineage
        truncated) reads ``entry["path"]`` itself."""
        return self.commit_staged(self.stage(df), iteration, metrics)

    # -- staged two-phase write --------------------------------------------
    def stage(self, df: DataFrame) -> str:
        """Phase 1: write ``df``'s data files to an UNCOMMITTED staging
        directory and return its path. Staged data is invisible to
        readers (the manifest is the source of truth); a crash leaves an
        orphan directory that is never read. Use when the decision to
        commit depends on metrics collected DURING the write (e.g. an
        ``Observation``-carried idempotence fingerprint) — the Iceberg
        write-data-files-then-commit-snapshot protocol."""
        import uuid

        path = os.path.join(self.root, f"_staged_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(path)
        return path

    def commit_staged(self, staged_path: str, iteration: int, metrics: dict | None = None) -> dict:
        """Phase 2: atomically promote a staged directory to the next
        snapshot (same-filesystem rename + manifest append) and return
        its manifest entry. Nothing is re-read: a caller that continues
        on the snapshot reads ``entry["path"]`` itself, so a commit whose
        frame nobody uses pays no schema-inference job."""
        entries = self.manifest()
        snap_id = len(entries)
        path = os.path.join(self.root, f"snap_{snap_id:06d}")
        os.replace(staged_path, path)
        files = [
            {"file": name, "bytes": os.path.getsize(os.path.join(path, name))}
            for name in sorted(os.listdir(path))
            if name.endswith(".parquet")
        ]
        entry = {
            "snapshot_id": snap_id,
            "iteration": iteration,
            "committed_at": time.time(),
            "metrics": metrics or {},
            "path": path,
            "partition_lineage": files,
        }
        entries.append(entry)
        self._write_manifest(entries)
        return entry

    def abandon_staged(self, staged_path: str) -> None:
        """Discard a staged write (replayed micro-batch, aborted job)."""
        import shutil

        shutil.rmtree(staged_path, ignore_errors=True)

    def prune(self, keep_last: int = 2) -> list[int]:
        """Retention: drop all but the newest ``keep_last`` snapshots
        (Iceberg ``expireSnapshots`` analog). Data directories are
        deleted, manifest entries are retained with ``"expired": true``
        so the iteration-metrics history survives retention. Returns the
        expired snapshot ids. A 100-iteration checkpointed run therefore
        holds ≤ keep_last full-state copies on disk instead of growing
        without bound."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1: the newest snapshot is the resume point")
        entries = self.manifest()
        live = [e for e in entries if not e.get("expired")]
        expired_ids = []
        for entry in live[:-keep_last] if keep_last < len(live) else []:
            shutil.rmtree(entry["path"], ignore_errors=True)
            entry["expired"] = True
            entry["partition_lineage"] = []
            expired_ids.append(entry["snapshot_id"])
        if expired_ids:
            self._write_manifest(entries)
        return expired_ids

    def latest(self) -> tuple[DataFrame, dict] | None:
        """(state, manifest entry) of the newest committed snapshot, or
        None — this is the resume entry point."""
        entries = self.manifest()
        entry = next((e for e in reversed(entries) if not e.get("expired")), None)
        if entry is None:
            return None
        return self.spark.read.parquet(entry["path"]), entry
