#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one SparkSession on
``local[<cpus>]``. The run sets up (session start, then the seeded
inputs generated, published and verified ``SETUP_REPS`` times), runs
one cold pass over the workload's operations, settles (GC, JIT queue),
then runs warm passes until ``--seconds`` have elapsed; each operation
starts only after the previous one has finished and been checked.
``--trace 1`` runs the warm window three times, untraced, traced,
untraced, and reports per-layer metrics instead of the end-to-end ones.
The last stdout line is the result JSON; the line before it carries the
run's environment and sizes, which are also written with every pass
time (and the spans, when traced) to ``<work-dir>/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3  # setup_s takes the median input preparation of these
E2E = {"wall_s": "s", "rows_per_s": "rows/s", "cold_pass_s": "s", "setup_s": "s",
       "peak_rss_mb": "MB", "ok_frac": "ratio"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["assign_headline", "knn_shuffle", "feed_formats"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (tests use a tiny one)")
    ap.add_argument("--work-dir", default=".perfbench_work")
    return ap.parse_args(argv)


class Counters:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.op_s: dict[str, list[float]] = {}  # per-operation times, checks excluded


def run_pass(ops, tracer, counters: Counters) -> float:
    """One pass over ``ops``; returns its time with the result checks
    left out (a failed operation counts up to its failure)."""
    total = 0.0
    for op in ops:
        counters.attempted += 1
        t_op, took = time.perf_counter(), None
        try:
            res = op.run(tracer)
            took = time.perf_counter() - t_op
            counters.op_s.setdefault(op.name, []).append(took)
            why = op.check(res)
        except Exception as e:  # the loop must go on and report the failure
            why = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        total += took if took is not None else time.perf_counter() - t_op
        if why:
            counters.failed += 1
            if len(counters.failures) < 20:
                counters.failures.append({"op": op.name, "why": why[:500]})
    return total


def window(ops, tracer, counters, seconds: float) -> list[float]:
    """Warm passes until ``seconds`` have elapsed: at least one, and a
    pass once started always runs to its end."""
    times: list[float] = []
    end = time.perf_counter() + seconds
    while not times or time.perf_counter() < end:
        if tracer.enabled:
            tracer.pass_idx = len(times)
            with tracer.span("pass"):
                times.append(run_pass(ops, tracer, counters))
        else:
            times.append(run_pass(ops, tracer, counters))
    return times


def settle(spark) -> float:
    """Collect the cold pass's garbage and let the JIT finish compiling
    what the cold pass made hot, so the first warm pass pays for
    neither. Returns the seconds spent waiting."""
    import gc

    t0 = time.perf_counter()
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() - t0 < 10.0:
        time.sleep(0.5)
        now = jit.getTotalCompilationTime()  # ms, summed over compiler threads
        if now - last < 20:
            break
        last = now
    return time.perf_counter() - t0


def start_session(work: str, workload: str, cpus: int):
    from gtfs_to_geojson_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every job, stage and execution back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    from tracing import _children_map

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while _children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gtfs_to_geojson_spark", "session.py")):
        print("perfbench: gtfs_to_geojson_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.abspath(args.work_dir)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays under the work dir; the JVM and its
    # Python workers inherit these and import the library from the root
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: no /tmp/hsperfdata_* and no temp files outside
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, root]

    import pyspark

    import kernels
    import layers
    import tracing
    from workloads import WORKLOADS, publish

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.scale)
    counters = Counters()
    inputs = os.path.join(work, "inputs", args.workload)
    out_root = os.path.join(work, "out", args.workload)

    with tracing.RssSampler() as rss:
        spark, session_s = start_session(work, args.workload, cpus)
        try:
            prep = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                staging = inputs + ".staging"
                shutil.rmtree(staging, ignore_errors=True)
                wl.generate(spark, args.seed, staging)
                publish(staging, inputs)
                wl.verify(inputs)
                prep.append(time.perf_counter() - t0)

            ops = wl.ops(spark, inputs, out_root)
            null = tracing.NullTracer()
            cold = run_pass(ops, null, counters)
            settle_s = settle(spark)
            warm = window(ops, null, counters, args.seconds)
            traced, after, layer, kern, spans = [], [], {}, {}, []
            if args.trace:
                tracer = tracing.Tracer(f"{args.workload}-{args.seed}")
                since = time.time()
                with tracing.Instrumented(tracer, layers.instrument_targets()):
                    traced = window(ops, tracer, counters, args.seconds)
                layer = layers.layer_metrics(tracer.spans, tracing.harvest(spark, since))
                tracer.self_times()
                spans = tracer.spans
                # the first warm window is still warming the JIT up; the
                # traced window is compared with an untraced one after it
                after = window(ops, null, counters, args.seconds)
        finally:
            stop_session(spark)
        if args.trace:
            kern = kernels.kernel_metrics(args.workload)

    wall = statistics.median(warm)
    setup = session_s + statistics.median(prep)
    if args.trace:
        values = {"session.start_s": session_s, "setup.inputs_s": statistics.median(prep),
                  **layer, **kern,
                  "trace.wall_s": statistics.median(traced),
                  "trace.overhead_s": statistics.median(traced) - statistics.median(after)}
        metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in values.items()}
    else:
        values = {"wall_s": wall, "rows_per_s": wl.input_rows / wall, "cold_pass_s": cold,
                  "setup_s": setup, "peak_rss_mb": rss.peak / 2**20,
                  "ok_frac": (counters.attempted - counters.failed) / counters.attempted}
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "master": f"local[{cpus}]",
        "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        "scale": args.scale, "sizes": wl.sizes, "tables": wl.tables, "input_rows": wl.input_rows,
        "session_start_s": session_s, "setup_reps_s": prep, "cold_pass_s": cold,
        "settle_s": settle_s, "warm_pass_s": warm, "traced_pass_s": traced,
        "after_pass_s": after, "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_mb_by_kind": {k: v / 2**20 for k, v in rss.at_peak.items()},
        "op_s": counters.op_s, "failures": counters.failures,
    }
    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics, "spans": spans}, f, default=str)
    result = {"correct": counters.failed == 0, "attempted": counters.attempted,
              "failed": counters.failed, "metrics": metrics}
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
