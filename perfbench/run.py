"""Pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload medallion_monthly --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts a Spark session on
local[<cores>], generates seeded inputs under ``.perfbench-work/``, stages
what the workload serves from, then runs a single-client closed loop of
passes over the workload's seeded op script, as many as fill ``--seconds``
at the nominal pass time, checking every op's output. The last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. See
``perfbench/README.md`` for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GEN_REPEATS = 3
DRIVER_MEM = "1g"
# every workload's op script is sized to take about this long on a 4-core box
NOMINAL_PASS_S = 5.0

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}
SESSION = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "core_busy_frac", "driver_only_s",
)
MEDALLION_TASKS = ("t0.fact", "t0.dims", "t1.fulljoin", "t2.brandtype", "t2.supplier", "t2.datetime", "t2.region")
CURATION_TASKS = ("c0.doc_stats", "c0.shingles", "c0.benchmark", "c1.cleaned", "c2.released", "c3.training", "c3.manifest")


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "io.bytes_written":
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


PER_LAYER = (
    [f"session.{k}" for k in SESSION]
    + [f"plans.medallion.{t}_s" for t in MEDALLION_TASKS]
    + [f"plans.curation.{t}_s" for t in CURATION_TASKS]
    + ["plans.pipeline.overhead_s", "plans.retrieval.plan_s", "plans.retrieval.exec_s"]
    + ["io.files_written", "io.bytes_written", "io.partitions_written", "io.read_frac"]
    + ["bench.unaccounted_frac", "bench.trace_overhead_s"]
)


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_spark(work: str):
    """A session on local[<cores>] whose scratch files stay inside ``work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a fixed, pre-touched heap: peak RSS then moves with native and Python
    # memory, not with when the collector chose to grow the heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from aws_glue_etl_sample_hist_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.range(1).count()  # the session is up once a job has run
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- any wait failure: force it down
            proc.kill()
            proc.wait(timeout=30)


def _probes(spark) -> dict[str, float]:
    """bench.py's frozen machine-state probes, recorded, never gated on."""
    import bench

    base = os.path.join(ROOT, "perfbench", "base")
    return {
        "sentinel_s": round(bench._sentinel_trial(spark, base), 4),
        "job_overhead_20_s": round(bench._job_overhead_trial(spark), 4),
    }


def _pipeline_overhead(wall: float, timings: dict[str, float]) -> float:
    """Op wall minus, per barrier stage, its slowest task: the orchestration."""
    slowest: dict[str, float] = {}
    for key, t in timings.items():
        stage = key.split(".")[0]
        slowest[stage] = max(slowest.get(stage, 0.0), t)
    return wall - sum(slowest.values())


def _layer_row(wl, res, wall: float, spans: dict, io: dict) -> dict[str, float]:
    row = dict.fromkeys(PER_LAYER, 0.0)
    for k in SESSION:
        row[f"session.{k}"] = spans[k]
    family = {"medallion_monthly": "medallion", "corpus_curation": "curation"}.get(wl.name)
    if family:
        for key, t in res.timings.items():
            row[f"plans.{family}.{key}_s"] = t
        row["plans.pipeline.overhead_s"] = _pipeline_overhead(wall, res.timings)
    if wl.name == "retrieval_serve":
        row["plans.retrieval.plan_s"] = res.plan_s
        row["plans.retrieval.exec_s"] = res.exec_s
        row["io.read_frac"] = spans["input_bytes"] / wl.index_bytes
    row["io.files_written"] = io["files"]
    row["io.bytes_written"] = io["bytes"]
    row["io.partitions_written"] = io["partitions"]
    row["bench.unaccounted_frac"] = spans["unaccounted_frac"]
    return row


@dataclass
class Loop:
    """What one closed loop of passes measured."""

    attempted: int = 0
    failed: int = 0
    op_walls: list[float] = field(default_factory=list)  # untraced ops
    rows: int = 0
    written: int = 0
    read: int = 0
    passes: dict[bool, list[float]] = field(default_factory=lambda: {False: [], True: []})
    layer_rows: list[dict[str, float]] = field(default_factory=list)  # traced ops
    seconds: float = 0.0


def n_passes(seconds: float, trace: bool) -> int:
    """Passes that fill ``seconds`` at the nominal pass time. The count
    depends on ``seconds`` alone, never on measured speed, so every run of a
    workload does the same work in the same order (the JVM is still warming
    through the loop, and a varying op count would turn that trend into
    run-to-run spread). A traced run needs one untraced and one traced pass
    at least."""
    return max(2 if trace else 1, round(seconds / NOMINAL_PASS_S))


def closed_loop(wl, ctx, script: list, passes: int, tracer=None) -> Loop:
    """One client runs ``passes`` passes over ``script``, each op after the
    previous one returns, checking every op. With a ``tracer``, untraced and
    traced passes alternate, so the traced run measures its own overhead."""
    from perfbench import measure

    loop = Loop()
    t_loop = time.perf_counter()
    for n_pass in range(passes):
        traced = tracer is not None and n_pass % 2 == 1
        pass_wall = 0.0
        for item in script:
            loop.attempted += 1
            if traced:
                tracer.begin()
            t_ns = time.time_ns()
            e0 = time.time()
            t = time.perf_counter()
            try:
                res = wl.op(ctx, item)
                wall = time.perf_counter() - t
                bad = wl.check(ctx, item, res)
            except Exception:  # noqa: BLE001 -- a failed op is counted, the loop goes on
                wall = time.perf_counter() - t
                traceback.print_exc(file=sys.stderr)
                res, bad = None, ["op raised"]
            pass_wall += wall
            if bad:
                loop.failed += 1
                print(f"# wrong output on {item!r}: {bad}", file=sys.stderr)
            io = measure.written_since(ctx.out, t_ns)
            if not traced:
                loop.op_walls.append(wall)
                loop.rows += res.rows if res is not None else 0
                loop.written += io["bytes"]
                loop.read += wl.input_bytes(ctx)
            elif res is not None:
                spans = [(e0, e0 + res.plan_s)] if res.plan_s else []
                loop.layer_rows.append(_layer_row(wl, res, wall, tracer.end(e0, e0 + wall, spans), io))
        loop.passes[traced].append(pass_wall)
    loop.seconds = time.perf_counter() - t_loop
    return loop


def run(args: argparse.Namespace) -> dict:
    from perfbench import inputs, measure
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench-work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = ctx = None
    try:
        t0 = time.perf_counter()
        spark, cores = _start_spark(work)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed)
        gen_walls = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            ctx.info = inputs.generate(ctx.inputs, args.seed, wl.factor, wl.tables)
            gen_walls.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.setup(ctx)
        stage_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_walls) + stage_s
        t = time.perf_counter()
        problems = wl.prepare(ctx)
        prepare_s = time.perf_counter() - t
        print(f"# setup: session {session_s:.3f} s, inputs {statistics.median(gen_walls):.3f} s "
              f"(median of {GEN_REPEATS}), staging {stage_s:.3f} s; check preparation {prepare_s:.3f} s",
              flush=True)
        probes = _probes(spark)

        tracer = measure.StageTracer(spark, cores) if args.trace else None
        script = wl.script(ctx)
        loop = closed_loop(wl, ctx, script, n_passes(args.seconds, bool(args.trace)), tracer)
        problems += wl.final_check(ctx)
        jvm_pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
        rss = measure.peak_rss_mb(int(jvm_pid))
    finally:
        if ctx is not None:
            ctx.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"# check failed: {p}", file=sys.stderr)
    op_walls = loop.op_walls
    tail_s, tail_label = measure.tail(op_walls)
    # read-only serving writes nothing per op: its amplification is the index build's
    write_amp = wl.index_write_amp if wl.name == "retrieval_serve" else loop.written / loop.read
    e2e = {
        "setup_s": setup_s,
        "run_s": measure.median(loop.passes[False]),
        "op_p50_s": measure.median(op_walls),
        "op_tail_s": tail_s,
        "ops_per_s": len(op_walls) / sum(op_walls),
        "rows_per_s": loop.rows / sum(op_walls),
        "peak_rss_mb": rss,
        "write_amp": write_amp,
    }
    # a failed set-up or final whole-tier check counts as one more failure
    failed = min(loop.attempted, loop.failed + (1 if problems else 0))
    error_rate = failed / loop.attempted
    print(f"# workload {wl.name}: seed {args.seed}, {cores} cores, {len(loop.passes[False]) + len(loop.passes[True])} passes of "
          f"{len(script)} ops in {loop.seconds:.2f} s, closed loop with one client", flush=True)
    print(f"# op walls (s): {' '.join(f'{w:.3f}' for w in op_walls)}")
    print(f"# op_tail_s is the {tail_label}; error_rate {error_rate:.4f} "
          f"({failed} of {loop.attempted} ops wrong or failed)")
    print(f"# machine probes (not gated): {json.dumps(probes)}")
    if args.trace:
        metrics = {}
        for name in PER_LAYER:
            metrics[name] = measure.median([r[name] for r in loop.layer_rows])
        metrics["bench.trace_overhead_s"] = measure.median(loop.passes[True]) - measure.median(loop.passes[False])
        print(f"# per-layer medians per op over {len(loop.layer_rows)} traced ops; "
              f"unaccounted share of op wall {metrics['bench.unaccounted_frac']:.3f}; "
              f"tracing overhead (traced minus untraced run_s) {metrics['bench.trace_overhead_s']:+.3f} s")
        for name in PER_LAYER:
            print(f"#   {name:34s} {metrics[name]:>16.6g} {_layer_unit(name)}")
        out_metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in metrics.items()}
    else:
        for name, unit in END_TO_END.items():
            print(f"#   {name:12s} {e2e[name]:>14.6g} {unit}")
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": failed == 0,
        "attempted": loop.attempted,
        "failed": failed,
        "metrics": out_metrics,
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    # on SIGTERM unwind through run()'s cleanup: stop the JVM, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401 -- the machine-state probes
        import aws_glue_etl_sample_hist_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
