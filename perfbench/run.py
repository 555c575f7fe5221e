#!/usr/bin/env python3
"""Repository benchmark: ``headline`` and ``pipe_exec`` (``lakehouse`` by hand).

Usage (from the repository root)::

    python3 perfbench/run.py --workload headline --seed 1 --seconds 1 --trace 0

The run makes its inputs from ``--seed`` (cached under ``.perfbench/inputs``),
starts one Spark session on ``local[<cores>]``, runs the workload's cold
first pass (set-up), then steady passes for ``--seconds`` seconds and at
least the workload's minimum pass count, checks every result, and prints
one JSON object as the last line of stdout. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` the
per-layer metrics read from Spark's bookkeeping, plus the tracing overhead
(traced against untraced passes of the same run). A readable summary goes
to stderr. Each run works in a fresh, empty temporary directory inside
``.perfbench/work`` and removes it at the end.

``BENCHMARK.json`` lists ``headline`` and ``pipe_exec``. ``lakehouse``
(upsert, snapshot publish, deletion-vector delete and reads, vacuum) runs
the same way by hand and adds its ``io`` operation metrics to the traced
output; it is left out of ``BENCHMARK.json`` because the run budget there
holds two workloads at the length a steady ``headline`` needs.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from workloads import median  # noqa: E402

#: headliners each headline pass runs: the registry's headline set cut to
#: entries that between them carry every layer (a plain filter-aggregate,
#: Q1-shaped aggregation, the exact and IVF Arrow/Python cosine kernels,
#: the as-of join's row-per-event delivery), so that a run, cold pass
#: included, fits the benchmark's time budget. The count is odd on purpose:
#: the queries' latencies form separate clusters, and with an even count
#: the median op would fall in the gap between two of them and swing with
#: the two extreme samples on either side.
HEADLINE = (
    "t07_filter_agg_revenue", "t08_pricing_summary", "t18_cosine_topk",
    "t25_ivf_topk", "t33_asof_latest_order",
)
WORKLOADS = ("headline", "pipe_exec", "lakehouse")
#: steady passes run before measuring (the JIT keeps warming after set-up)
WARMUP = 2
#: measured passes per run, at least; with BENCHMARK.json's run_seconds of
#: 1 these decide, so a run's median covers the same passes on a fast host
#: as on a slow one
MIN_PASSES = {"headline": 5, "pipe_exec": 6, "lakehouse": 3}
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "ok_frac": "frac",
}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.cold_extra_s": "s",
    "catalyst.plan_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.input_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_records": "count",
    "exec.spill_bytes": "B",
    "pyudf.total_s": "s", "pyudf.boot_s": "s", "pyudf.bytes_sent": "B",
    "pyudf.bytes_received": "B", "pyudf.rows_out": "count",
    "action.wall_s": "s", "action.result_rows": "count",
    "pipe.map_stage_s": "s", "pipe.reduce_stage_s": "s",
    "io.write_text_dir_s": "s", "pipe.mb_per_s_per_core": "MB/s",
    "io.bytes_written": "B",
    "ops.timed": "count", "trace.overhead_frac": "frac",
    "peak_rss_mb": "MB",
}
#: per-layer metrics only the hand-run lakehouse workload reports
LAKEHOUSE_LAYER = {
    "io.partition_upsert_s": "s", "io.versioned_write_s": "s",
    "io.delete_where_s": "s", "io.read_snapshot_s": "s",
    "io.read_with_deletes_s": "s", "io.vacuum_snapshots_s": "s",
    "io.files_written": "count", "io.store_bytes": "B",
}
#: reference map-task floor (BASELINE.md), printed next to the pipe rate
REFERENCE_FLOOR_MB_S_CORE = 0.5


def p90(xs) -> float:
    """The 90th percentile of ``xs``, interpolated between the two samples
    around it (with the few ops of one run, near its slowest op)."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def inputs_for(args, root: str) -> str:
    """Generate (or reuse) the seeded inputs of this workload and scale,
    in a child process, so this one's peak memory measures the run only."""
    cache = os.path.join(root, ".perfbench", "inputs")
    path = os.path.join(cache, f"{args.workload}-{args.scale}-s{args.seed}")
    if os.path.exists(os.path.join(path, ".done")):
        return path
    os.makedirs(cache, exist_ok=True)
    for old in sorted(os.listdir(cache), key=lambda d: os.path.getmtime(
            os.path.join(cache, d)))[:-3]:  # keep the newest few seeds
        shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    tmp = tempfile.mkdtemp(dir=cache, prefix=".gen-")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), args.workload,
         str(args.seed), str(args.scale), tmp, *HEADLINE],
        check=True, env={**os.environ, "PYTHONPATH": root})
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def isolate(root: str, work: str) -> None:
    """Point every scratch location of the session at ``work`` before the
    JVM starts, so the store root starts empty and nothing leaves the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # an inherited PYSPARK_SUBMIT_ARGS would override the driver memory
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    sys.path.insert(0, root)


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size: sf for headline, corpus MB for "
                         "pipe_exec, events rows for lakehouse")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected result (benchmark self-test)")
    args = ap.parse_args(argv)
    if args.scale is None:
        args.scale = {"headline": 0.01, "pipe_exec": 2.0,
                      "lakehouse": 100_000}[args.workload]
    return args


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mapreduce_google_spark", "__init__.py")):
        print("perfbench: run from the repository root (mapreduce_google_spark/ "
              "not found)", file=sys.stderr)
        return 2
    inputs = inputs_for(args, root)
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(root, work)
    try:
        return measure(args, inputs, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, inputs, work) -> int:
    from layers import NullTracer, SparkTracer, new_layer

    t0 = time.perf_counter()
    from mapreduce_google_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    session_s = time.perf_counter() - t0
    tracer = SparkTracer(spark) if args.trace else NullTracer()
    if args.workload == "headline":
        wl = workloads.Headline(spark, inputs, tracer, args.plant_wrong, HEADLINE)
    elif args.workload == "pipe_exec":
        wl = workloads.PipeExec(spark, inputs, tracer, args.plant_wrong, cores())
    else:
        wl = workloads.Lakehouse(spark, inputs, tracer, args.plant_wrong, args.seed)
    try:
        cold = wl.setup(new_layer())
        # like pass_s, the cold pass counts its ops' walls, not the checks
        setup_s = session_s + sum(op.wall_s for op in cold)
        ops = list(cold)
        t2 = time.perf_counter()
        for _ in range(WARMUP):
            ops += wl.run_pass(new_layer())
        print(f"perfbench: session {session_s:.1f} s, cold pass "
              f"{setup_s - session_s:.1f} s, warm-up "
              f"{time.perf_counter() - t2:.1f} s; cold ops: "
              + ", ".join(f"{o.name} {o.wall_s:.2f}" for o in cold),
              file=sys.stderr)
        passes, untraced, steady = [], [], {}
        start = time.perf_counter()
        while (time.perf_counter() - start < args.seconds
               or len(passes) + len(untraced) < MIN_PASSES[args.workload]
               or (args.trace and (len(passes) + len(untraced)) % 4)):
            # a traced run interleaves traced and untraced passes in ABBA
            # blocks, so the tracing overhead is measured on the same warm
            # session without favouring whichever side runs later
            measured = not args.trace or (len(passes) + len(untraced)) % 4 in (0, 3)
            wl.tracer = tracer if measured else NullTracer()
            layer = new_layer()
            pass_ops = wl.run_pass(layer)
            # the ops run back to back; the checks between them are untimed
            wall = sum(op.wall_s for op in pass_ops)
            print(f"perfbench: pass {wall:.3f} s: " + ", ".join(
                f"{op.name} {op.wall_s:.3f}" for op in pass_ops), file=sys.stderr)
            if measured:
                passes.append((wall, layer))
            else:
                untraced.append(wall)
            ops += pass_ops
            for op in pass_ops:
                steady.setdefault(op.name, []).append(op.wall_s)
        peak_mb = jvm_hwm_mb(spark) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024
        if isinstance(wl, workloads.Lakehouse) and not wl.check_table():
            print("perfbench: lakehouse table differs from its model",
                  file=sys.stderr)
            ops.append(workloads.Op("check_table", 0.0, False))
        extra = wl.finish(steady)
    finally:
        stop(spark)
    if getattr(tracer, "errors", 0):
        print(f"perfbench: {tracer.errors} stages or jobs were read before "
              "Spark's status store had them finished", file=sys.stderr)
        ops += [workloads.Op("trace_read", 0.0, False)] * tracer.errors

    failed = sum(not op.ok for op in ops)
    lat = [x for xs in steady.values() for x in xs]
    if args.trace:
        keys = {k for _, layer in passes for k in layer}
        metrics = {k: median([layer.get(k, 0.0) for _, layer in passes])
                   for k in keys}
        metrics.update(extra)
        metrics["session.start_s"] = session_s
        metrics["ops.timed"] = len(lat)
        metrics["trace.overhead_frac"] = (
            median([w for w, _ in passes]) / median(untraced) - 1.0)
        metrics["peak_rss_mb"] = peak_mb
        units = dict(PER_LAYER)
        if args.workload == "lakehouse":
            units.update(LAKEHOUSE_LAYER)
        metrics = {k: metrics.get(k, 0.0) for k in units}
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median([w for w, _ in passes]),
            "op_p50_s": median(lat),
            "op_p90_s": p90(lat),
            "ok_frac": 1.0 - failed / len(ops),
        }
        units = END_TO_END
    print(f"perfbench {args.workload} seed={args.seed}: {len(passes)} measured "
          f"passes, {len(lat)} timed ops, "
          f"{failed}/{len(ops)} ops failed", file=sys.stderr)
    if metrics.get("pipe.mb_per_s_per_core"):
        print(f"perfbench pipe_exec: {metrics['pipe.mb_per_s_per_core']:.3f} "
              f"MB/s/core (reference floor {REFERENCE_FLOOR_MB_S_CORE})",
              file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:28s} {v:14.6g} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
