"""Benchmark of the near-dup pipeline and its aux queries on one
local[nproc] Spark session, driven through the package's public
functions from this process.

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py): batch_skewed, query_mix. Run from
the repository root. Inputs are
generated from --seed on first use and cached under .perfbench/ (that
generation is outside every reported time); Spark's scratch space and
the trace files go there too.

--trace 0: set-up, then closed-loop operations (one at a time) until
--seconds have passed and the workload's minimum number of operations
has run; reports the end-to-end metrics.
--trace 1: alternates untraced and traced operations; a traced
operation puts spans around the package's calls (for the batch
pipeline, around each stage run_pipeline runs, then around a delta
ingest) and reads Spark's
counters for their jobs. Reports the per-layer metrics (medians over
traced operations) and the tracing overhead, and writes the spans to
.perfbench/traces/.

Every operation's output is checked; the last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_TRACED_OPS = 1
MAX_MEASURE_S = 100    # stop even if operations keep failing
DRIVER_MEMORY = "3g"   # JVM heap; the 4 Python workers live outside it


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def start_session():
    from datasketches_java_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # keep JVM temp files, and no hsperfdata, outside the run directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits when its stdin closes
        jvm.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "datasketches_java_spark")):
        log(f"perfbench: no datasketches_java_spark package under {ROOT}")
        return 2
    sys.path[0] = ROOT  # the package, not this directory, is importable
    from perfbench import host
    from perfbench.workloads import WORKLOADS, Context, layer_names

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    ctx = Context(ROOT, args.seed, bool(args.trace))
    for var, path in (("SPARK_LOCAL_DIRS", os.path.join(ctx.work, "spark-local")),
                      ("TMPDIR", os.path.join(ctx.work, "tmp")),
                      ("SPARK_GRAFT_CORPUS_CACHE", os.path.join(ctx.cache, "oracle-corpus"))):
        os.environ[var] = path
        os.makedirs(path, exist_ok=True)
    # oracle_sql() builds a corpus of this many rows for its corpus
    # twins, which the query mix does not use
    os.environ["SPARK_GRAFT_ORACLE_ROWS"] = "200"
    ambient_start = host.ambient()
    ticks_start = host.cpu_ticks()
    me = os.getpid()

    t_prep = time.perf_counter()
    wl.prepare(ctx)
    prepare_s = time.perf_counter() - t_prep
    peak = host.PeakMemory(me)
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    attempted = failed = 0

    def record(problems: list[str], what: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        if problems:
            failed += 1
            log(f"perfbench: {what} failed: {'; '.join(problems)}")

    def run_op(what: str):
        """One checked operation; (wall s, cpu s) or None if it raised."""
        c0, w0 = host.cpu_seconds(me), time.perf_counter()
        try:
            out = wl.op(spark, ctx)
        except Exception:
            log(f"perfbench: {what} raised:\n{traceback.format_exc()}")
            record(["raised"], what)
            return None
        wall, cpu = time.perf_counter() - w0, host.cpu_seconds(me) - c0
        record(wl.problems(out), what)
        return wall, cpu

    def run_traced(tracer, n: int):
        """One checked traced operation; (wall s, layer metrics) or None."""
        first = len(tracer.spans)
        try:
            problems, rows, wall = wl.traced_op(spark, ctx, tracer, n)
        except Exception:
            log(f"perfbench: traced operation {n} raised:\n{traceback.format_exc()}")
            record(["raised"], f"traced operation {n}")
            return None
        record(problems, f"traced operation {n}")
        spans = tracer.spans[first:]
        tracer.resolve(spans)
        for s in spans:
            s["rows_out"] = rows.get(s["name"], 0)
        return wall, wl.layer_metrics(tracer, spans)

    try:
        checks = wl.setup(spark, ctx)
        setup_s = time.perf_counter() - t0

        walls, cpus, traced_walls, layer_rows = [], [], [], []
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer(spark)
        t_start = time.perf_counter()
        n = 0
        while ((time.perf_counter() - t_start < args.seconds or len(walls) < wl.min_ops
                or (tracer and len(traced_walls) < MIN_TRACED_OPS))
               and time.perf_counter() - t_start < MAX_MEASURE_S):
            if tracer is None or n % 2 == 0:
                res = run_op(f"operation {n}")
                if res is not None:
                    walls.append(res[0])
                    cpus.append(res[1])
            else:
                res = run_traced(tracer, n)
                if res is not None:
                    traced_walls.append(res[0])
                    layer_rows.append(res[1])
            n += 1
        measure_s = time.perf_counter() - t_start
        t_check = time.perf_counter()
        for i, check in enumerate(checks):
            try:
                problems = check()
            except Exception:
                log(f"perfbench: check of set-up operation {i} raised:\n{traceback.format_exc()}")
                problems = ["check raised"]
            record(problems, f"set-up operation {i}")
        check_s = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        peak_mem = peak.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)
    ambient_end = host.ambient()
    ambient_end["steal_share_during_run"] = round(host.steal_share(ticks_start, host.cpu_ticks()), 4)
    log(f"perfbench: phases prepare={prepare_s:.1f}s setup={setup_s:.1f}s "
        f"(session {session_s:.1f}s) measure={measure_s:.1f}s check={check_s:.1f}s stop={time.perf_counter() - t_stop:.1f}s")

    if not walls:
        log("perfbench: no operation completed")
        return 1
    op_s = statistics.median(walls)
    report = [
        ("setup_s", setup_s, "s"),
        ("op_s", op_s, "s"),
        ("cpu_s_per_op", statistics.median(cpus), "core-s"),
    ]
    log(f"perfbench: {wl.name} seed={args.seed} timed_ops={len(walls)} "
        f"walls={[round(w, 3) for w in walls]}")
    # printed only: peak memory spreads 14-20% between runs (JVM heap growth)
    named = wl.headline(op_s, statistics.median(cpus)) + [
        ("peak_pss_mb", peak_mem / 2 ** 20, "MB"), ("failed_frac", failed / attempted, "ratio")]
    for name, value, unit in report + named:
        print(f"{wl.name} {name} {value:.6g} {unit}")
    print(f"{wl.name} ambient start={json.dumps(ambient_start)} end={json.dumps(ambient_end)}")

    if tracer is not None:
        names = layer_names()
        metrics = {k: {"value": 0.0, "unit": unit_of(k)} for k in names}
        for k in layer_rows[0] if layer_rows else []:
            metrics[k]["value"] = float(statistics.median(r.get(k, 0) for r in layer_rows))
        overhead = statistics.median(traced_walls) - op_s if traced_walls else 0.0
        metrics["trace.overhead_s"]["value"] = overhead
        print(f"{wl.name} trace.overhead_s {overhead:.4f} s "
              f"(traced {statistics.median(traced_walls) if traced_walls else 0:.3f} s, untraced {op_s:.3f} s)")
        traces = os.path.join(ctx.run_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{wl.name}-s{args.seed}-{int(time.time())}.jsonl"),
                    {"workload": wl.name, "seed": args.seed, "ambient_start": ambient_start,
                     "ambient_end": ambient_end, "untraced_walls": walls,
                     "traced_walls": traced_walls})
    else:
        metrics = {name: {"value": value, "unit": unit} for name, value, unit in report}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "B"
    if name.endswith(("task_skew", "yield")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
