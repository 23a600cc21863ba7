"""Serving-layer point-lookup index: build once with Spark, serve from RAM.

The reference's only published throughput number is a *point-lookup*
rate — 370.45 single-threaded per-id vector fetches/sec against a Milvus
collection (reference INSTALL.md:243-244). Milvus answers that workload
by building an in-memory index once and serving gets from it; Spark's
per-job floor (~50 ms scheduling + scan setup) makes a loop of
one-row-per-job filters the wrong tool, no matter how well the scan
prunes (BENCH/BUCKET_LOOKUP.md characterizes that floor).

``PointIndex`` is the architecture-matching answer: ONE Spark job
projects exactly the needed columns (column pruning reaches the parquet
scan) and ships them to the serving process via Arrow ``toPandas``;
lookups are then O(1) pandas-index gets with no job launch at all.
Spark remains the source of truth — the index is a disposable,
rebuildable read replica of a key→row projection, exactly the shape a
Milvus/serving tier holds next to a 100-TB lakehouse.

Scale contract: one ``PointIndex`` holds one shard. At web scale the
key space is hash-sharded with ``shard()`` (the positive-mod Murmur3
hash Spark's ``bucketBy`` writer assigns bucket ids with) and each
serving node builds its own shard. The ``max_rows`` cap makes the
single-process memory bound explicit instead of discovering it with an
OOM.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["PointIndex"]


@dataclass
class PointIndex:
    """In-memory key → row map built from one Spark projection job."""

    key_col: str
    n_rows: int
    build_seconds: float
    _frame: Any = field(repr=False)  # pandas.DataFrame indexed by key

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        value_cols: Sequence[str] | None = None,
        max_rows: int = 50_000_000,
    ) -> "PointIndex":
        """One Spark job: project ``key_col`` + ``value_cols``, Arrow-ship
        to the driver, index by key. Duplicate keys keep the first row
        (deterministic via a key sort before dedup). Raises if the
        projection exceeds ``max_rows`` — shard first (``shard()``)."""
        t0 = time.monotonic()
        cols = [key_col] + [c for c in (value_cols or df.columns) if c != key_col]
        proj = df.select(*cols)
        pdf = proj.toPandas()
        if len(pdf) > max_rows:
            raise ValueError(
                f"PointIndex.build: {len(pdf)} rows exceeds max_rows="
                f"{max_rows}; shard the key space (PointIndex.shard) and "
                "build one index per shard"
            )
        pdf = pdf.drop_duplicates(subset=[key_col], keep="first")
        pdf = pdf.set_index(key_col, drop=False)
        return PointIndex(
            key_col=key_col,
            n_rows=len(pdf),
            build_seconds=time.monotonic() - t0,
            _frame=pdf,
        )

    @staticmethod
    def shard(df: DataFrame, key_col: str, n_shards: int, shard_id: int) -> DataFrame:
        """Restrict ``df`` to one hash shard of the key space, using the
        positive-mod Murmur3 hash Spark's ``bucketBy`` writer assigns
        bucket ids with — so shard ``i`` of ``B`` holds the key set of
        bucket ``i`` of a table written ``bucketBy(B, k)``."""
        return df.filter(F.pmod(F.hash(F.col(key_col)), F.lit(n_shards)) == shard_id)

    def lookup(self, key: Any) -> dict | None:
        """O(1) point get; None when absent. No Spark job."""
        frame = self._frame
        try:
            row = frame.loc[key]
        except KeyError:
            return None
        # a unique index returns a Series for a scalar key
        return {c: row[c] for c in frame.columns}

    def lookup_many(self, keys: Sequence[Any]):
        """Vectorized multi-get → pandas DataFrame of the present keys,
        in input order (absent keys are dropped)."""
        frame = self._frame
        present = [k for k in keys if k in frame.index]
        out = frame.loc[present]
        return out.reset_index(drop=True)

    def __contains__(self, key: Any) -> bool:
        return key in self._frame.index

    def __len__(self) -> int:
        return self.n_rows
