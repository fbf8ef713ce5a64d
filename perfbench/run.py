#!/usr/bin/env python3
"""Benchmark CLI.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Reads the fixture tables under ``perfbench/data``, sets up a session on
``local[<cpus>]``, runs a closed loop of passes (one client, passes back
to back), checks every result against the DuckDB oracle outside the
timed region, and prints one JSON object as the last line of standard
output.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and the tracing overhead,
and writes every span to ``.perfbench/traces/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# pyspark, the engine and the modules that import them are imported in
# the functions below: setup_session times those imports as set-up.

WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(ROOT, "perfbench", "data")
#: The fixtures' sf0.01 tables, with these replaced by their sf0.1
#: versions: medallion_daily builds 150 000 videos from ``orders`` and
#: 5 000 comment items from ``documents``.
FROM_SF0_1 = {"medallion_daily": ("orders", "documents")}
#: No pass starts after this many seconds, so a run ends inside three
#: minutes even on a machine far slower than the one it was sized on.
RUN_CAP_S = 120.0

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s"}


def inputs(workload: str, run_dir: str) -> str:
    """The directory of fixture tables ``workload`` reads."""
    base = os.path.join(DATA, "sf0.01")
    larger = FROM_SF0_1.get(workload)
    if not larger:
        return base
    out = os.path.join(run_dir, "data")
    os.makedirs(out)
    for name in os.listdir(base):
        table = name.removesuffix(".parquet")
        os.symlink(os.path.join(DATA, "sf0.1" if table in larger else "sf0.01", name),
                   os.path.join(out, name))
    return out


def setup_session(data_dir: str):
    """Imports, session and every fixture scan planned; returns the
    session and its timings."""
    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401 -- part of what a job start pays
    from youtube_podcast_data_pipeline_azure_spark import get_spark
    from youtube_podcast_data_pipeline_azure_spark.io.readers import TABLES, load_table

    t1 = time.perf_counter()
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    t2 = time.perf_counter()
    for name in TABLES:
        load_table(spark, data_dir, name)._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "session.get_spark_s": t2 - t1,
        "io.readers.load_table_s": t3 - t2,
    }


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from perfbench.probe import alive, process_tree

    # The JVM's Python workers outlive it briefly, reparented away from
    # this process, so wait on every pid the tree held before the stop.
    started = process_tree()[1:]
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while (left := [p for p in started if alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(base, n))
                files += 1
    return size, files


def percentile_beyond(values: list[float], min_beyond: int = 10) -> dict:
    """The highest of p50/p75/p90/p95/p99 with ``min_beyond`` samples
    above it, or nothing when there are too few samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= min_beyond:
            return {f"pass_s_p{p}": statistics.quantiles(values, n=100)[p - 1]}
    return {}


def run_context(spark, args, load_start) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": len(os.sched_getaffinity(0)),
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": sc._jvm.System.getProperty("java.version"),
        "inputs": args.data_dir or "perfbench/data/sf0.01" + "".join(
            f", {t} from sf0.1" for t in FROM_SF0_1.get(args.workload, ())
        ),
        "loadavg_start": load_start,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="read these fixture tables instead of perfbench/data")
    args = ap.parse_args()

    load_start = list(os.getloadavg())
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        return measure(args, run_dir, load_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, load_start: list[float]) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Everything Spark and its Python workers write stays in the run dir.
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    marks = [("start", time.monotonic())]
    data_dir = args.data_dir or inputs(args.workload, run_dir)
    marks.append(("inputs", time.monotonic()))
    spark, setup = setup_session(data_dir)
    marks.append(("setup", time.monotonic()))
    from perfbench import oracle, probe
    from perfbench.metrics import per_layer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    context = run_context(spark, args, load_start)
    workload = WORKLOADS[args.workload]()
    ctx = Ctx(spark, data_dir, args.seed, probe.NullTracer())
    duck = oracle.connect(data_dir)
    workload.prepare(ctx, duck)
    marks.append(("oracle", time.monotonic()))

    tracer = probe.Tracer()
    listener = probe.PlanListener(spark) if args.trace else None
    warm = max(round(args.seconds / workload.seconds_per_pass), 2 if args.trace else 1)
    passes: list[dict] = []
    for index in range(1 + warm):
        # Trace mode alternates traced and untraced warm passes, so the
        # tracing overhead is measured in the same process.
        traced = bool(args.trace) and (index == 0 or index % 2 == 1)
        passes.append(run_pass(workload, ctx, run_dir, index, tracer if traced else None,
                               listener))
        if time.monotonic() - marks[0][1] > RUN_CAP_S and len(passes) >= 2 + args.trace:
            break
    marks.append(("passes", time.monotonic()))
    duck.close()
    memory = probe.memory_by_process()
    context["loadavg_end"] = list(os.getloadavg())
    stop_session(spark)
    marks.append(("stop", time.monotonic()))

    attempted = sum(len(p["ops"]) for p in passes)
    failures = {f"pass{p['index']}.{k}": v for p in passes for k, v in p["failures"].items()}
    warm_walls = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    detail = {
        "context": context,
        "failed_frac": len(failures) / attempted,
        "failures": dict(list(failures.items())[:10]),
        "passes": [{k: p[k] for k in ("index", "traced", "wall_s")} for p in passes],
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        # Sum of VmHWM over the live process tree.  Reported, not gated:
        # G1 heap sizing makes it vary by a third from run to run.
        "peak_rss_mb": sum(p["hwm_mb"] for p in memory),
        "memory": memory,
    }
    if args.trace:
        metrics = per_layer([p for p in passes[1:] if p["traced"]], setup, warm_walls)
        path = write_trace(args, context, tracer, passes, metrics)
        detail["trace_file"] = os.path.relpath(path, ROOT)
    else:
        values = {
            "setup_s": setup["setup_s"],
            "first_pass_s": passes[0]["wall_s"],
            "pass_s": statistics.median(warm_walls),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        detail["samples"] = {"pass_s": warm_walls}
        detail.update(percentile_beyond(warm_walls))
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def run_pass(workload, ctx, run_dir: str, index: int, tracer, listener) -> dict:
    """One pass: the ops back to back (timed), then the checks (untimed)."""
    from perfbench import probe

    spark = ctx.spark
    sc = spark.sparkContext
    ctx.pass_dir = os.path.join(run_dir, f"pass-{index}")
    os.makedirs(ctx.pass_dir)
    tempfile.tempdir = ctx.pass_dir
    ctx.tr = tracer or probe.NullTracer()
    ctx.tr.pass_id = ctx.pass_index = index
    ctx.observations = {}
    ops = workload.ops(ctx)
    if tracer:
        listener.drain()
        listener.active = True
    results, errors, op_stats = {}, {}, {}
    t0 = time.perf_counter()
    with ctx.tr.span("bench.pass", f"pass-{index}"):
        for name, fn in ops:
            group = f"pass{index}.{name}"
            if tracer:
                sc.setJobGroup(group, name)
            a = time.perf_counter()
            try:
                with ctx.tr.span("bench.op", name):
                    results[name] = fn()
            except Exception as e:  # noqa: BLE001 -- a failed op is counted, the pass goes on
                errors[name] = f"{type(e).__name__}: {e}"[:500]
            seconds = time.perf_counter() - a
            if tracer:
                jobs, tasks = probe.job_stats(spark, group)
                op_stats[name] = {"s": seconds, "jobs": jobs, "tasks": tasks,
                                  "plan": dict(listener.drain())}
    wall = time.perf_counter() - t0
    record = {"index": index, "traced": bool(tracer), "wall_s": wall, "ops": [n for n, _ in ops]}
    if tracer:
        sc.setLocalProperty("spark.jobGroup.id", None)
        listener.active = False
        record.update(op_stats=op_stats, self_s=tracer.self_times(index),
                      layer_s=tracer.durations(index),
                      # an Observation of a failed action would never complete
                      rows={k: o.get["rows"] for k, o in ctx.observations.items()
                            if k.rsplit(".", 1)[0] not in errors},
                      listener_errors=list(listener.failures))
        counts = getattr(ctx.classifier, "counts", None)
        record["enrichment"] = counts() if counts else {}
    record["bytes_written"], record["files_written"] = dir_usage(ctx.pass_dir)
    failures = {}
    for name, _ in ops:
        try:
            msg = errors.get(name) or workload.check(ctx, name, results[name])
        except Exception as e:  # noqa: BLE001 -- a failing check is a failed op
            msg = f"check raised {type(e).__name__}: {e}"[:500]
        if msg:
            failures[name] = msg
    record["failures"] = failures
    tempfile.tempdir = os.environ["TMPDIR"]
    shutil.rmtree(ctx.pass_dir, ignore_errors=True)
    return record


def write_trace(args, context, tracer, passes, metrics) -> str:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"context": context, "metrics": metrics, "passes": passes,
                   "spans": tracer.dump()}, f, indent=1, default=str)
    return path


if __name__ == "__main__":
    sys.exit(main())
