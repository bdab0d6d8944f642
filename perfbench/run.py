"""Benchmark for the ETL engine: two workloads, one closed-loop client.

    python3 perfbench/run.py --workload query_keys --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json`` for why
each was chosen):

- ``query_keys`` the 22 TPC-H keys over the generated star schema, then
                 three keys dominated by eager driver work (a label loop,
                 persists, a stream drain);
- ``zone_etl``   the paper's DAG: extract → land → validate → raw-hist →
                 curated parquet → catalog, on seeded nested records.

Every run generates its inputs from ``--seed`` under ``.perfbench_work/``,
sets the engine up ``SETUP_REPS`` times (``setup_s`` is the median), then
runs whole passes over the workload until ``--seconds`` have passed, and
checks every output outside the timed region (query keys against their
DuckDB oracle twins, the DAG against four invariants). The first pass
runs every op cold, as a batch job that starts its own session does;
at ``--seconds 5`` it is the only pass.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures the
same passes untraced, then one traced pass on a session with the Spark
event log on, prints the per-layer metrics, and writes the spans and
counts to ``.perfbench_out/trace-<workload>-seed<seed>.json``. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "etl_pipeline_example_spark"
WORKLOADS = ("query_keys", "zone_etl")

SCALE = 0.01  # 60,000 lineitem rows: per-key time is planning and scheduling
SETUP_REPS = 3
ZONE_PARTITIONS = 4
ZONE_PER_PARTITION = 10_000
DRIVER_MEM = "2g"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    """Point the engine, its JVM and its Python workers at this checkout."""
    for sub in ("local", "tmp", "warehouse", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={work / 'tmp'}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "pyspark-shell",
    ])
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]


def _session(data_dir: str, warm_table: str | None):
    """Create the session, scan the workload's largest input table and
    start the Python worker pool."""
    from etl_pipeline_example_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if warm_table:
        spark.read.parquet(f"{data_dir}/{warm_table}.parquet").count()
    spark.range(64).repartition(4).mapInPandas(lambda it: it, "id long").count()
    return spark


def _setup(data_dir: str, warm_table: str | None, reps: int):
    """Set the engine up ``reps`` times; return the last session and each
    set-up's wall time."""
    spark, times = None, []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(data_dir, warm_table)
        times.append(time.perf_counter() - t0)
    return spark, times


def _cpu_ticks() -> tuple[int, int] | None:
    """(stolen, total) CPU ticks since boot, from Linux's ``/proc/stat``.

    On a shared virtual machine the hypervisor steals CPU time when other
    guests are busy; runs that lose a few percent to it are 20% slower, so
    the share is logged beside each run's phase times."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def _measure(workload, seconds: float) -> list:
    """Whole passes until ``seconds`` have elapsed (at least one)."""
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(workload.run_pass())
        for op in passes[-1].ops:
            print(f"# pass {len(passes)} {op.name} {op.seconds:.3f}s {op.error}", file=sys.stderr)
    return passes


def _shutdown() -> None:
    """Stop the active session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _make_workload(name: str, data_dir: str, rows: dict[str, int], work: Path, seed: int):
    from perfbench import workloads as w
    from perfbench.zonegen import make_zone_input

    if name == "query_keys":
        return w.QueryWorkload(data_dir, w.QUERY_KEYS, rows)
    return w.ZoneWorkload(
        str(work / "zone"), make_zone_input(seed, ZONE_PER_PARTITION, ZONE_PARTITIONS)
    )


def _verify(workload, passes: list) -> dict[str, str]:
    """Mark failed ops in ``passes``; return ``{op: reason}``."""
    bad = workload.verify()
    for p in passes:
        for op in p.ops:
            if op.error:
                bad.setdefault(op.name, op.error)
            elif op.name in bad:
                op.error = bad[op.name]
    return bad


def _op_latencies(passes: list) -> list[float]:
    """Each op's median latency over the passes (failed ops left out)."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for op in p.ops:
            if not op.error:
                by_op.setdefault(op.name, []).append(op.seconds)
    return [statistics.median(v) for v in by_op.values()]


def _end_to_end(workload, passes: list, setup_times: list[float]) -> dict:
    """The ``BENCHMARK.json`` end-to-end metrics.

    ``op_geomean_s`` summarises op latency the way TPC-H's power metric
    does, as the geometric mean over ops: every op weighs the same, and
    each op's own noise averages out, where the median rests on the one
    or two ops in the middle."""
    wall = statistics.median(p.wall for p in passes)
    lat = _op_latencies(passes)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "wall_s": (wall, "s"),
        "op_geomean_s": (
            math.exp(statistics.fmean(math.log(x) for x in lat)) if lat else float("nan"), "s"
        ),
        "records_per_s": (workload.records / wall, "rec/s"),
    }


def _traced_pass(workload, data_dir: str, work: Path, untraced_wall: float):
    """Restart the session with the event log on and run one traced pass.

    Returns the per-layer metrics, the pass, the trace document and the
    tracer that holds the spans."""
    from perfbench.trace import Tracer, read_event_log, union_within
    from perfbench.workloads import ZONE_TASKS, ZoneWorkload

    zone = isinstance(workload, ZoneWorkload)
    spark = workload.spark
    jvm_system = spark._jvm.java.lang.System
    spark.stop()
    for k, v in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(work / "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        jvm_system.setProperty(k, v)
    spark = _session(data_dir, workload.warm_table)
    workload.spark = spark
    tracer = Tracer(spark)
    tracer.wrap_layers()
    if zone:
        workload.task_attempts = 0
    try:
        t0 = time.time()
        p = workload.run_pass(tracer)
        t1 = time.time()
        time.sleep(0.5)  # the listener bus delivers the last stream events late
        tracer.add_stream_spans()
    finally:
        tracer.unwrap()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    heap_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
    app_id = spark.sparkContext.applicationId
    spark.stop()  # closes the event log
    log = read_event_log(str(work / "events"), app_id)

    jobs = [j for j in log.jobs.values() if t0 <= j.start <= t1]
    stages = {s for j in jobs for s in j.stages if s in log.stages_run}
    job_spans = [(j.start, j.end) for j in jobs]
    ops = [s for s in tracer.spans if s.name == workload.op_span]
    layer_self = tracer.self_by_layer()
    drains = tracer.listener.drains
    op_wall = {s.key: s.end - s.start for s in ops}
    files, size = workload.written() if zone else (0, 0)

    m = {
        "sources.read_calls": (sum(1 for s in tracer.spans if s.name == "sources"), "count"),
        "sources.read_s": (layer_self.get("sources", 0.0), "s"),
        "sources.read_jobs": (sum(1 for j in jobs if j.group.endswith("|read")), "count"),
        "build.s": (layer_self.get("build", 0.0), "s"),
        "build.jobs": (sum(1 for j in jobs if j.group.endswith("|build")), "count"),
        "driver.gap_s": (
            sum((s.end - s.start) - union_within(job_spans, s.start, s.end) for s in ops), "s"
        ),
        "streaming.queries": (len(drains), "count"),
        "streaming.batches": (tracer.listener.batches, "count"),
        "streaming.input_rows": (tracer.listener.input_rows, "count"),
        "streaming.drain_s": (sum(e - s for s, e in drains), "s"),
        "catalyst.analysis_s": (layer_self.get("catalyst.analysis", 0.0), "s"),
        "catalyst.optimization_s": (layer_self.get("catalyst.optimization", 0.0), "s"),
        "catalyst.planning_s": (layer_self.get("catalyst.planning", 0.0), "s"),
        "exec.s": (layer_self.get("exec", 0.0), "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (sum(log.tasks[s] for s in stages), "count"),
        "exec.task_busy_s": (sum(log.busy_ms[s] for s in stages) / 1000.0, "s"),
        "exec.shuffle_read_bytes": (sum(log.shuffle_read[s] for s in stages), "bytes"),
        "exec.shuffle_write_bytes": (sum(log.shuffle_write[s] for s in stages), "bytes"),
        "exec.spill_bytes": (sum(log.spill[s] for s in stages), "bytes"),
        "cache.live_rdds_after": (tracer.counts["probe.leaked_rdds"], "count"),
        "cache.live_frames_after": (tracer.counts["probe.live_frames"], "count"),
        "session.conf_changes": (tracer.counts["probe.conf_changes"], "count"),
        "session.jvm_heap_used_mb": (heap_mb, "MB"),
        **{
            f"pipeline.{t}_s": (op_wall.get(t, 0.0) if zone else 0.0, "s")
            for t in ZONE_TASKS if t != "readback"
        },
        "pipeline.task_attempts": (
            workload.task_attempts if zone else 0,
            "count",
        ),
        "sinks.write_s": (layer_self.get("sinks", 0.0), "s"),
        "sinks.files_written": (files, "count"),
        "sinks.bytes_written": (size, "bytes"),
        "metadata.align_s": (layer_self.get("metadata", 0.0), "s"),
        "trace.overhead_s": (p.wall - untraced_wall, "s"),
    }
    doc = {
        "traced_wall_s": p.wall,
        "untraced_wall_s": untraced_wall,
        "layer_self_s": layer_self,
        "op_wall_s": op_wall,
        "op_selftime_residual_s": tracer.op_residuals(workload.op_span),
        "metrics": {k: v for k, (v, _) in m.items()},
        "jobs": [vars(j) for j in jobs],
    }
    return m, p, doc, tracer


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict, int, int, dict[str, str]]:
    """Returns the metrics, figures printed beside them but not part of
    ``BENCHMARK.json``, the attempted and failed op counts, and the
    failed ops."""
    from perfbench.datagen import write_tables

    data_dir = str(work / "data")
    t0 = time.perf_counter()
    rows = write_tables(data_dir, args.seed, SCALE)
    workload = _make_workload(args.workload, data_dir, rows, work, args.seed)
    phases = {"inputs": time.perf_counter() - t0}
    try:
        t0 = time.perf_counter()
        workload.spark, setup_times = _setup(
            data_dir, workload.warm_table, 1 if args.trace else SETUP_REPS
        )
        phases["setup"] = time.perf_counter() - t0
        t0, ticks0 = time.perf_counter(), _cpu_ticks()
        passes = _measure(workload, args.seconds)
        phases["measure"] = time.perf_counter() - t0
        ticks1 = _cpu_ticks()
        lat = _op_latencies(passes)
        notes = {"key_p50_s": (statistics.median(lat) if lat else float("nan"), "s")}
        if args.trace:
            # The overhead baseline is a warm pass on a fresh session, like
            # the traced one: a session that ran the keys before carries the
            # confs and cached tables they leaked. The second run of an op
            # is still warming up, so one more untraced pass comes first.
            passes.append(workload.run_pass())
            workload.spark.stop()
            workload.spark = _session(data_dir, workload.warm_table)
            passes.append(workload.run_pass())
            metrics, traced, doc, tracer = _traced_pass(workload, data_dir, work, passes[-1].wall)
            passes.append(traced)
        else:
            metrics = _end_to_end(workload, passes, setup_times)
        t0 = time.perf_counter()
        bad = _verify(workload, passes)
        phases["verify"] = time.perf_counter() - t0
    finally:
        _shutdown()
    line = " ".join(f"{k}={v:.2f}s" for k, v in phases.items())
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        line += f" steal={(ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1%}"
    print(f"# phases {line}", file=sys.stderr)
    if args.trace:
        out = ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json"
        tracer.write(str(out), {"workload": args.workload, "seed": args.seed, **doc})
        print(f"trace written to {out.relative_to(ROOT)}")
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(1 for p in passes for op in p.ops if op.error)
    return metrics, notes, attempted, failed, bad


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    needed = [ROOT / PACKAGE / "__init__.py", ROOT / "__spark_entry__.py", ROOT / "tools" / "drivercheck.py"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        print(f"perfbench: engine sources not found: {', '.join(missing)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        metrics, notes, attempted, failed, bad = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    for op, reason in sorted(bad.items()):
        print(f"FAILED {op}: {reason}")
    for name, (value, unit) in {**metrics, **notes}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} error_rate = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
