"""Pregel-style driver loop for iterative DataFrame jobs.

Catalyst cannot express iteration (SURVEY.md §4.2); every iterative graph
algorithm here is a Python ``for`` loop where each step is a declarative
DataFrame transformation (join + groupBy gather-scatter), and the runner
owns the three things the loop must get right at scale:

* **lineage truncation** — without it the logical plan doubles per
  iteration and planning time explodes; the runner either
  ``localCheckpoint``s (fast, in-memory) or writes a durable snapshot
  through :class:`~plwordnet_spark.storage.snapshots.SnapshotStore`
  every ``checkpoint_interval`` iterations,
* **convergence** — a caller-provided scalar delta, compared to ``tol``
  (the only driver-side values collected per iteration; everything else
  stays distributed),
* **metrics + resume** — per-iteration metrics land in the snapshot
  manifest; ``resume()`` restarts from the latest committed snapshot
  (north rule: "resumable from checkpoint with per-partition lineage +
  metrics").

The reference's analog is the resumable skip-already-done batch pattern
(plwordnet_ml/.../wrappers.py:292-304); generalized here to synchronous
iteration.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from plwordnet_spark.storage.snapshots import SnapshotStore

__all__ = ["PregelRunner", "PregelResult"]


@dataclass
class PregelResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


class PregelRunner:
    """Run ``state = step(state)`` to convergence with checkpointing.

    ``step``: DataFrame -> DataFrame (pure transformation, no actions).
    ``delta``: (old, new) -> float, or -> (float, dict) to attach extra
    per-iteration metrics; convergence when ``delta < tol``.
    When ``checkpoint_dir`` is set, durable snapshots enable resume;
    otherwise ``localCheckpoint`` truncates lineage in memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        max_iterations: int = 100,
        tol: float | None = None,
        checkpoint_dir: str | None = None,
        checkpoint_interval: int = 5,
        check_interval: int = 1,
        truncate_interval: int = 1,
        retain_snapshots: int | None = None,
    ):
        self.spark = spark
        self.max_iterations = max_iterations
        self.tol = tol
        self.checkpoint_interval = checkpoint_interval
        # snapshot retention: keep the newest N state copies on disk
        # (min 2 — the delta action still scans the previous state);
        # None = keep everything (audit mode). Explicitly reject <2
        # instead of silently clamping (and 0 must not mean "keep all").
        if retain_snapshots is not None and retain_snapshots < 2:
            raise ValueError(
                "retain_snapshots must be >= 2 (the delta action scans the "
                "previous snapshot) or None to keep everything"
            )
        self.retain_snapshots = retain_snapshots
        # convergence-check cadence: >1 skips the delta action on
        # intermediate iterations (the job may overshoot convergence by
        # up to check_interval-1 iterations — monotone algorithms only)
        self.check_interval = check_interval
        # lineage hard-cut cadence: between cuts, states are persist()ed
        # (materialized by whatever action runs next — usually the delta)
        # so each iteration costs ONE job instead of two; plans grow only
        # truncate_interval steps deep before being reset.
        # CAUTION: >1 is only safe when step() references its state ONCE —
        # a step that self-joins the state (e.g. large-star/small-star)
        # inlines the lazy parent subtree multiple times and plan size
        # grows exponentially with the interval. Default 1 = always eager.
        self.truncate_interval = max(1, truncate_interval)
        self.store = (
            SnapshotStore(spark, checkpoint_dir) if checkpoint_dir else None
        )

    def _truncate(self, df: DataFrame, iteration: int, metrics: dict) -> DataFrame:
        if self.store and (
            iteration % self.checkpoint_interval == 0
            or iteration == self.max_iterations
        ):
            return self.store.write(df, iteration, metrics)
        if iteration % self.truncate_interval == 0:
            # eager localCheckpoint: cuts lineage, materializes without disk
            return df.localCheckpoint(eager=True)
        # soft step: cache only — the next action (delta or next truncate)
        # materializes it; ancestors stay cached so nothing recomputes
        df.persist()
        return df

    def run(
        self,
        initial: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        delta: Callable[[DataFrame, DataFrame], float] | None = None,
        start_iteration: int = 0,
    ) -> PregelResult:
        state = initial.localCheckpoint(eager=True)
        metrics: list[dict] = []
        converged = False
        iteration = start_iteration
        pending_unpersist: list[DataFrame] = []
        for iteration in range(start_iteration + 1, self.max_iterations + 1):
            started = time.time()
            hard_cut = iteration % self.truncate_interval == 0 or (
                self.store is not None and iteration % self.checkpoint_interval == 0
            )
            stepped = step(state)
            # truncate BEFORE measuring delta: the delta action then reads
            # the materialized state instead of re-executing the step plan
            new_state = self._truncate(stepped, iteration, {})
            check_now = delta is not None and (
                iteration % self.check_interval == 0
                or iteration == self.max_iterations
            )
            step_delta = delta(state, new_state) if check_now else None
            # a delta callable may return (value, extra_metrics) to land
            # algorithm-specific per-iteration metrics (e.g. BFS
            # frontier_rows) in the runner's metrics / snapshot manifest
            extra_metrics: dict = {}
            if isinstance(step_delta, tuple):
                step_delta, extra_metrics = step_delta
                step_delta = float(step_delta)
            # runner-owned keys win on collision: a delta returning e.g.
            # {'seconds': ...} must not clobber the measured wall time
            entry = {
                **extra_metrics,
                "iteration": iteration,
                "delta": step_delta,
                "seconds": time.time() - started,
            }
            if self.store:
                self.store.update_metrics(iteration, entry)
                if self.retain_snapshots is not None:
                    # prune only after the delta action: the old state's
                    # plan may read the previous snapshot's files
                    self.store.prune(keep_last=self.retain_snapshots)
            # soft-persisted ancestors may back the (lazy) new state; only
            # release them once a hard cut has re-materialized from scratch
            pending_unpersist.append(state)
            if hard_cut:
                for old in pending_unpersist:
                    old.unpersist()
                pending_unpersist = []
            state = new_state
            metrics.append(entry)
            if self.tol is not None and step_delta is not None and step_delta < self.tol:
                converged = True
                break
        if pending_unpersist:
            # loop ended between hard cuts: pin the final state eagerly
            # before releasing the soft-cached ancestors it may depend on
            state = state.localCheckpoint(eager=True)
            for old in pending_unpersist:
                old.unpersist()
        if self.store:
            # final durable snapshot so resume() always sees the end state
            last = self.store.manifest()[-1] if self.store.manifest() else None
            if last is None or last["iteration"] != iteration:
                state = self.store.write(state, iteration, metrics[-1] if metrics else {})
        return PregelResult(state=state, iterations=iteration, converged=converged, metrics=metrics)

    def resume(
        self,
        step: Callable[[DataFrame], DataFrame],
        delta: Callable[[DataFrame, DataFrame], float] | None = None,
    ) -> PregelResult | None:
        """Continue from the latest committed snapshot (None if empty)."""
        if not self.store:
            raise ValueError("resume requires a checkpoint_dir")
        latest = self.store.latest()
        if latest is None:
            return None
        state, entry = latest
        return self.run(state, step, delta, start_iteration=entry["iteration"])
