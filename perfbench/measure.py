"""Statistics, output-tree accounting and the Spark status-store reader the
benchmark's traced mode uses. Everything here observes the program from
outside: it times calls into the layers' public functions and reads what
Spark already records, and never patches the program."""

from __future__ import annotations

import math
import os
import statistics

MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile (nearest rank, at or above the median) with at
    least ``MIN_BEYOND`` samples beyond it, and its label.

    With n samples, percentile q leaves ``n - ceil(q*n/100)`` samples above
    its rank, so q = floor(100*(n-10)/n) is the highest that leaves ten.
    Below 20 samples that q falls under the median, which is no tail; the
    maximum is reported instead and the label says so."""
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    q = math.floor(100 * (n - MIN_BEYOND) / n) if n > MIN_BEYOND else -1
    if q < 50:
        return xs[-1], f"max of n={n} (fewer than {2 * MIN_BEYOND} ops: no percentile at or above p50 has {MIN_BEYOND} beyond)"
    rank = max(1, math.ceil(q * n / 100))
    while rank < n and n - rank < MIN_BEYOND:  # guard float rounding of q*n/100
        rank -= 1
    return xs[rank - 1], f"p{q} of n={n} ({n - rank} beyond)"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ output trees

def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def written_since(root: str, since_ns: int) -> dict[str, int]:
    """Files under ``root`` modified at or after ``since_ns``: their count,
    bytes and distinct Hive partition directories (``key=value``)."""
    files = size = 0
    parts: set[str] = set()
    for d, _, names in os.walk(root):
        for f in names:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime_ns >= since_ns:
                files += 1
                size += st.st_size
                if "=" in os.path.basename(d):
                    parts.add(d)
    return {"files": files, "bytes": size, "partitions": len(parts)}


# ------------------------------------------------------------ memory

def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


# ------------------------------------------------------------ status store

def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StageTracer:
    """Per-op Spark counters from the driver's status store.

    ``begin()`` notes the newest stage id and the job count; ``end()``
    drains the listener bus, lists the stages created since and sums their
    metrics. Diffing ids per op keeps the retained-stage cap (1000 by
    default, far above one op's stages) from dropping an op's stages."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._jvm = gw.jvm
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self.cores = cores
        self._last_stage = -1
        self._jobs0 = 0

    def _stages(self):
        seq = self._sc.statusStore().stageList(
            None, False, False, self._quantiles, self._jvm.java.util.ArrayList()
        )
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _max_stage_id(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        return max((s.stageId() for s in self._stages()), default=-1)

    def jobs_total(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def begin(self) -> None:
        self._last_stage = self._max_stage_id()
        self._jobs0 = self.jobs_total()

    def end(self, t0_epoch: float, t1_epoch: float, driver_spans: list[tuple[float, float]] = ()) -> dict[str, float]:
        """Counters for the op that ran in epoch seconds [t0, t1]."""
        self._sc.listenerBus().waitUntilEmpty()
        m = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
             "gc_s", "input_bytes", "output_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        intervals: list[tuple[float, float]] = []
        for s in self._stages():
            if s.stageId() <= self._last_stage or str(s.status()) == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["failed_tasks"] += s.numFailedTasks()
            m["executor_run_s"] += s.executorRunTime() / 1e3
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["input_bytes"] += s.inputBytes()
            m["output_bytes"] += s.outputBytes()
            m["shuffle_read_bytes"] += s.shuffleReadBytes()
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else t1_epoch
                intervals.append((sub.get().getTime() / 1e3, end))
        wall = t1_epoch - t0_epoch
        in_stages = _union_s(intervals, t0_epoch, t1_epoch)
        m["jobs"] = float(self.jobs_total() - self._jobs0)
        m["driver_only_s"] = wall - in_stages
        m["core_busy_frac"] = m["executor_run_s"] / (wall * self.cores) if wall > 0 else 0.0
        accounted = _union_s(intervals + list(driver_spans), t0_epoch, t1_epoch)
        m["unaccounted_frac"] = (wall - accounted) / wall if wall > 0 else 0.0
        return m
