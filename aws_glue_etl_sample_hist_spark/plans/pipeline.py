"""Orchestration DAG runner (reference SURVEY §2.10 D1-D4).

The reference drives its 7 Glue jobs with a Step Functions state machine
(scripts/stepfunction.json): Parallel branches for independent jobs, a strict
barrier between tiers (T0 -> T1 -> T2), and crawler poll-loops between stages.

Spark-first rebuild: a stage list where each stage is a set of callables run
concurrently (ThreadPoolExecutor -- Spark schedules jobs from multiple driver
threads just fine and FAIR-shares executors), with a barrier between stages.
Catalog registration is synchronous in-session, so the crawler poll-loop (D3)
collapses to a no-op hook.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field


@dataclass
class Stage:
    name: str
    tasks: list[tuple[str, Callable[[], object]]]


# tasks of one stage that run at once; the widest stage of any pipeline
# (medallion T2's four marts, retrieval r1's four indexes) runs in one round
MAX_WORKERS = 8


@dataclass
class Pipeline:
    """Ordered stages; tasks within a stage run in parallel, stages barrier.

    A failing task runs once: its exception propagates and aborts the
    stage barrier, so no later stage runs. There is no retry -- every task
    is a deterministic Spark job over local files, and re-running a
    deterministic failure only repeats it.
    """

    stages: list[Stage] = field(default_factory=list)

    def add_stage(self, name: str, **tasks: Callable[[], object]) -> "Pipeline":
        self.stages.append(Stage(name, list(tasks.items())))
        return self

    @staticmethod
    def _run_task(fn: Callable[[], object]) -> float:
        """Returns the task's OWN wall seconds -- timed around fn() inside
        the worker, so queue wait (tasks > MAX_WORKERS) and
        completion-observation delay are never charged to the task."""
        start = time.perf_counter()
        fn()
        return time.perf_counter() - start

    def run(self) -> dict[str, float]:
        """Execute; returns per-task wall seconds (keys 'stage.task')."""
        timings: dict[str, float] = {}
        for stage in self.stages:
            with ThreadPoolExecutor(max_workers=MAX_WORKERS) as pool:
                futs = {
                    pool.submit(self._run_task, fn): f"{stage.name}.{task_name}"
                    for task_name, fn in stage.tasks
                }
                for fut in as_completed(futs):
                    timings[futs[fut]] = fut.result()  # propagate failures; barrier
        return timings
