"""Pregel-style driver loop for iterative DataFrame jobs.

Catalyst cannot express iteration (SURVEY.md §4.2); every iterative graph
algorithm here is a Python ``for`` loop where each step is a declarative
DataFrame transformation (join + groupBy gather-scatter), and the runner
owns the three things the loop must get right at scale:

* **one action per iteration** — each new state is materialized by a
  single Spark action that also cuts its lineage (without the cut the
  logical plan doubles per iteration and planning time explodes): an
  eager ``localCheckpoint`` (in memory), or every
  ``checkpoint_interval`` iterations a durable snapshot write through
  :class:`~plwordnet_spark.storage.snapshots.SnapshotStore`,
* **convergence scalars ride that action** — the caller names aggregate
  columns over the stepped frame (an L1 change, a changed-row count, a
  content fingerprint); the runner evaluates them with
  ``DataFrame.observe``, so the materializing job collects them in the
  same pass instead of a second job re-reading the state (LMFAO's "many
  aggregates, one pass", PAPERS.md). ``delta`` folds the observed values
  into the one number compared to ``tol``; nothing else reaches the
  driver,
* **metrics + resume** — every observed value lands in the iteration's
  metrics entry; a snapshot iteration stages its data files, reads the
  observation, then commits the snapshot with its complete entry (the
  ``EdgeLog.merge_batch`` protocol). ``resume()`` restarts from the
  latest committed snapshot (north rule: "resumable from checkpoint with
  per-partition lineage + metrics").

The reference's analog is the resumable skip-already-done batch pattern
(plwordnet_ml/.../wrappers.py:292-304); generalized here to synchronous
iteration.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.storage.snapshots import SnapshotStore

__all__ = [
    "PregelRunner",
    "PregelResult",
    "fingerprint",
    "frontier_scalars",
    "unchanged_fingerprint",
]


@dataclass
class PregelResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def fingerprint(*cols: str) -> list[Column]:
    """Order-insensitive content fingerprint of the stepped frame as two
    scalars: the row count ``fp_n`` and the sum of per-row
    ``xxhash64(cols)`` ``fp_h``. The sum accumulates as a decimal (a long
    sum of 2^63-range hashes overflows under ANSI mode) and is reported
    as a string, so the metrics entry stays JSON."""
    return [
        F.count(F.lit(1)).alias("fp_n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0))
        .cast("string")
        .alias("fp_h"),
    ]


def unchanged_fingerprint(seed: tuple | None = None) -> Callable[[dict], float]:
    """``delta`` over :func:`fingerprint` scalars: 0.0 when the state's
    fingerprint equals the previous iteration's (``seed`` before the
    first), else 1.0 — with ``tol=0.5`` the loop stops on the first
    unchanged round."""
    last = seed

    def delta(observed: dict) -> float:
        nonlocal last
        fp = (observed["fp_n"], observed["fp_h"])
        changed = 0.0 if fp == last else 1.0
        last = fp
        return changed

    return delta


def frontier_scalars() -> tuple[list[Column], Callable[[dict], float]]:
    """``(scalars, delta)`` of a frontier flood whose state flags the rows
    entering the next round in a boolean ``changed`` column: observes
    their count as ``frontier_rows``, and with ``tol=0.5`` the loop stops
    when it is 0."""
    return [F.count_if("changed").alias("frontier_rows")], lambda o: float(o["frontier_rows"])


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` that plans as a fresh leaf.

    A checkpointed frame inherits the size estimate of the plan that
    produced it, and a join's estimate is the product of its inputs'. A
    step that reads the state twice (a gather plus the carried previous
    value) therefore squares the estimate every iteration — its digit
    count doubles per iteration (measured: 22k digits after 12
    iterations, and a driver heap OOM inside the estimate's BigInt
    arithmetic by iteration 20 of a three-reference step). Re-wrapping
    the checkpointed rows as a new frame drops the inherited estimate;
    the planner then treats the state like any RDD-backed frame."""
    ckpt = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(ckpt._jdf.rdd(), ckpt._jdf.schema()), spark
    )


class PregelRunner:
    """Run ``state = step(state)`` to convergence with checkpointing.

    ``step``: DataFrame -> DataFrame (pure transformation, no actions).
    The stepped frame may carry extra columns that only the scalars read
    (e.g. each row's previous value); the state keeps the initial frame's
    columns.
    ``scalars``: named aggregate columns over the stepped frame, observed
    by the action that materializes the state.
    ``delta``: observed values -> float; convergence when ``delta < tol``.
    When ``checkpoint_dir`` is set, durable snapshots enable resume;
    otherwise an eager ``localCheckpoint`` truncates lineage in memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        max_iterations: int = 100,
        tol: float | None = None,
        checkpoint_dir: str | None = None,
        checkpoint_interval: int = 5,
        retain_snapshots: int | None = None,
    ):
        self.spark = spark
        self.max_iterations = max_iterations
        self.tol = tol
        self.checkpoint_interval = checkpoint_interval
        # snapshot retention: keep the newest N state copies on disk
        # (min 2 — the newest plus the resume point before it, a fallback
        # if the newest copy is lost); None = keep everything (audit
        # mode). Explicitly reject <2 instead of silently clamping (and 0
        # must not mean "keep all").
        if retain_snapshots is not None and retain_snapshots < 2:
            raise ValueError(
                "retain_snapshots must be >= 2 (the newest snapshot plus the "
                "resume point before it) or None to keep everything"
            )
        self.retain_snapshots = retain_snapshots
        self.store = (
            SnapshotStore(spark, checkpoint_dir) if checkpoint_dir else None
        )

    def run(
        self,
        initial: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        scalars: Sequence[Column] = (),
        delta: Callable[[dict], float] | None = None,
        start_iteration: int = 0,
    ) -> PregelResult:
        state = _checkpoint(initial)
        columns = state.columns
        metrics: list[dict] = []
        converged = False
        iteration = start_iteration
        for iteration in range(start_iteration + 1, self.max_iterations + 1):
            started = time.time()
            obs = Observation()
            stepped = step(state)
            if scalars:
                stepped = stepped.observe(obs, *scalars)
            stepped = stepped.select(*columns)
            durable = self.store is not None and (
                iteration % self.checkpoint_interval == 0
                or iteration == self.max_iterations
            )
            # the iteration's one action: it materializes the state and
            # collects the observed scalars
            if durable:
                staged = self.store.stage(stepped)
            else:
                state = _checkpoint(stepped)
            observed = obs.get if scalars else {}
            # runner-owned keys win on collision: a scalar named e.g.
            # 'seconds' must not clobber the measured wall time
            entry = {
                **observed,
                "iteration": iteration,
                "delta": float(delta(observed)) if delta else None,
                "seconds": time.time() - started,
            }
            if durable:
                committed = self.store.commit_staged(staged, iteration, entry)
                state = self.spark.read.parquet(committed["path"])
                if self.retain_snapshots is not None:
                    self.store.prune(keep_last=self.retain_snapshots)
            metrics.append(entry)
            if self.tol is not None and entry["delta"] is not None and entry["delta"] < self.tol:
                converged = True
                break
        if self.store:
            # final durable snapshot so resume() always sees the end state
            last = self.store.manifest()[-1] if self.store.manifest() else None
            if last is None or last["iteration"] != iteration:
                committed = self.store.write(state, iteration, metrics[-1] if metrics else {})
                state = self.spark.read.parquet(committed["path"])
        return PregelResult(state=state, iterations=iteration, converged=converged, metrics=metrics)

    def resume(
        self,
        step: Callable[[DataFrame], DataFrame],
        scalars: Sequence[Column] = (),
        delta: Callable[[dict], float] | None = None,
    ) -> PregelResult | None:
        """Continue from the latest committed snapshot (None if empty)."""
        if not self.store:
            raise ValueError("resume requires a checkpoint_dir")
        latest = self.store.latest()
        if latest is None:
            return None
        state, entry = latest
        return self.run(state, step, scalars, delta, start_iteration=entry["iteration"])
