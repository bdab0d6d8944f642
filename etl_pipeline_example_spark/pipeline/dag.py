"""Minimal dependency-ordered pipeline runner with retry/idempotency.

The reference orchestrates four containerized tasks with Airflow
(reference: dags/example_etl_dag.py:108-110 ``extract >> test-extract >>
run-curated >> deploy-database``). The engine keeps orchestration out of
the data plane: a pipeline is named thunks + dependency edges, executed in
topological order. Swapping this runner for Airflow/Step Functions on a
real deployment changes nothing about the tasks.

Reference-parity semantics beyond ordering (dags/example_etl_dag.py:19-33):

- ``schedule`` — the DAG's cron spec (the reference's
  ``schedule_interval='30 13 * * 0'``). Declarative here: WHEN to run is
  the orchestrator's concern, so the runner stores and exposes it but
  fires only when ``run()`` is called.
- per-task ``retries`` + ``retry_delay`` — Airflow task_args' retry
  policy: a task raising is re-invoked up to ``retries`` extra times
  with a fixed backoff before the run fails. A transient S3/cluster
  error must not kill a weekly pipeline.
- idempotent re-run — Airflow reruns a DAG from the top after a failure
  (``depends_on_past=False``), so every task must tolerate re-execution.
  Tasks may declare a ``done`` probe (skip-if-output-exists); tasks
  without one must be overwrite-atomic themselves, which every sink in
  this engine is (``write_curated`` dynamic-overwrites partitions; both
  promotion entry points delete any stale raw-hist copy of a partition,
  then rename the landed partition into its place). ``run()`` on an
  already-complete pipeline is therefore a no-op for probed tasks and a
  clean overwrite for the rest.

A failed run raises after recording per-task state; ``last_state``
shows each task as success / skipped / failed / blocked with the
attempt count — the observable the reference gets from the Airflow UI.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any, Callable


@dataclass
class TaskSpec:
    fn: Callable[[], Any]
    retries: int = 0
    retry_delay: float = 0.0
    done: Callable[[], bool] | None = None


@dataclass
class Pipeline:
    name: str
    schedule: str | None = None  # cron spec, declarative (see module doc)
    tasks: dict[str, TaskSpec] = field(default_factory=dict)
    deps: dict[str, set[str]] = field(default_factory=dict)
    last_state: dict[str, dict[str, Any]] = field(default_factory=dict)

    def task(
        self,
        task_id: str,
        fn: Callable[[], Any],
        after: list[str] | None = None,
        retries: int = 0,
        retry_delay: float = 0.0,
        done: Callable[[], bool] | None = None,
    ) -> None:
        if task_id in self.tasks:
            raise ValueError(f"duplicate task id {task_id!r}")
        for dep in after or []:
            if dep not in self.tasks:
                raise ValueError(f"unknown dependency {dep!r} for task {task_id!r}")
        self.tasks[task_id] = TaskSpec(fn, retries, retry_delay, done)
        self.deps[task_id] = set(after or [])

    def run(self) -> dict[str, Any]:
        """Run all tasks respecting dependencies; return results by task id.

        Each task: skipped when its ``done`` probe already holds,
        otherwise invoked with up to ``retries`` re-attempts. The first
        task that exhausts its retries fails the run (downstream tasks
        are recorded as blocked and never invoked), re-raising the
        final exception with the task id attached.
        """
        order = list(TopologicalSorter(self.deps).static_order())
        results: dict[str, Any] = {}
        self.last_state = {}
        failed: str | None = None
        for task_id in order:
            if failed is not None:
                self.last_state[task_id] = {"status": "blocked", "attempts": 0}
                continue
            spec = self.tasks[task_id]
            if spec.done is not None and spec.done():
                self.last_state[task_id] = {"status": "skipped", "attempts": 0}
                results[task_id] = None
                continue
            attempts = 0
            while True:
                attempts += 1
                try:
                    results[task_id] = spec.fn()
                    self.last_state[task_id] = {
                        "status": "success",
                        "attempts": attempts,
                    }
                    break
                except Exception as exc:  # noqa: BLE001 — retry policy boundary
                    if attempts > spec.retries:
                        self.last_state[task_id] = {
                            "status": "failed",
                            "attempts": attempts,
                        }
                        failed = task_id
                        err = exc
                        break
                    if spec.retry_delay:
                        time.sleep(spec.retry_delay)
        if failed is not None:
            raise RuntimeError(f"pipeline {self.name!r}: task {failed!r} failed") from err
        return results
