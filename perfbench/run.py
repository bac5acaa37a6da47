"""Benchmark entry point: one workload, one seed, one process at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up (input generation plus the
writes that publish the inputs) runs SETUP_REPS times and is reported
as its median. Passes are then timed until ``--seconds`` have elapsed,
at least one; the first pass of a fresh session is what a batch job
pays, and at the configured run_seconds it is the only one. With
``--trace 1`` a warm pass and a traced pass follow, with every layer
call wrapped in a span, and per-layer metrics are printed instead of
end-to-end ones. Outputs are checked after the timed region. The last
line of stdout is the JSON result; a detail file with spans and input
properties goes to perfbench/_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up runs SETUP_REPS times and is reported as the median. The
#: first is the session's first Spark work and always the slowest.
SETUP_REPS = 3


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """The package's own session builder, at local[nproc], with every
    scratch location inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    from build_datawarehouse_demo_spark.session import get_spark

    n = cpus()
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def measure(wl, seconds: float, trace: bool):
    """Set-up, the timed pass and, with ``trace``, a warm pass and the
    traced pass. Returns the run record the metrics are computed from."""
    from perfbench.layers import ROWS_OUT_SPANS
    from perfbench.spans import JvmCounters, NullTracer, Tracer, group_counts

    spark = wl.spark
    sc = spark.sparkContext
    null = NullTracer()
    rec = {"setups": [], "passes": [], "failed": 0, "attempted": 0, "problems": []}
    tr = Tracer(spark) if trace else None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(f"inputs-{i}", null)
        rec["setups"].append(time.perf_counter() - t0)
    log(f"setup {rec['setups']}")
    if tr is not None:
        # one more set-up, traced: the writer spans of the workloads
        # that publish their inputs
        tr.phase = "setup"
        wl.setup("inputs-traced", tr)

    # the timed region: passes until --seconds have elapsed, at least
    # one. A pass runs for several seconds, so with the configured
    # run_seconds this is exactly one pass, the first in the session.
    outs = []
    start = time.perf_counter()
    while not outs or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        try:
            out = wl.run_pass(len(outs), null)
        except Exception:
            traceback.print_exc()
            rec["failed"] += 1
            rec["attempted"] += 1
            if time.perf_counter() - start >= seconds:
                break
            continue
        wall = time.perf_counter() - t0
        rec["passes"].append({"wall_s": wall, "latencies": out.latencies})
        rec["attempted"] += len(out.latencies)
        outs.append(out)
        log(f"pass {len(outs) - 1} {wall:.2f}s")
    if not outs:
        raise RuntimeError("no timed pass completed")
    rec["stored_bytes"] = wl.stored_bytes(outs[-1])

    if tr is not None:
        # a second, warm pass with only a job group set (the per-pass
        # Spark and JVM counters, and the base of trace_overhead_s),
        # then the traced pass
        jvm = JvmCounters(spark)
        jvm.reset_peak()
        gc0 = jvm.gc_ms()
        sc.setJobGroup("perfbench-warm", "warm pass")
        t0 = time.perf_counter()
        warm = wl.run_pass("warm", null)
        rec["warm"] = {"wall_s": time.perf_counter() - t0, "latencies": warm.latencies}
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["warm"].update(
            group_counts(sc.statusTracker(), "perfbench-warm"),
            gc_ms=jvm.gc_ms() - gc0,
            peak_heap_mb=jvm.peak_heap_mb(),
        )
        rec["attempted"] += len(warm.latencies)
        outs.append(warm)
        log(f"warm pass {rec['warm']['wall_s']:.2f}s")

        tr.phase = "pass"
        tr.root_group = "perfbench-traced"
        sc.setJobGroup(tr.root_group, "traced pass")
        with tr.patched(wl.trace_targets):
            t0 = time.perf_counter()
            traced_out = wl.run_pass("traced", tr)
            tr.pass_wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        tr.count_rows(ROWS_OUT_SPANS)
        tr.collect_job_counts()
        from build_datawarehouse_demo_spark.operators.keys import release_pinned_caches

        release_pinned_caches()
        rec["tracer"] = tr
        rec["attempted"] += len(traced_out.latencies)
        log(f"traced pass {tr.pass_wall:.2f}s")
        outs.append(traced_out)

    log("checking outputs")
    problems, failed = wl.check(outs)
    log("checked")
    rec["problems"] = problems
    rec["failed"] += failed
    for msg in problems:
        log(f"CHECK FAILED: {msg}")
    return rec


def end_to_end(wl, rec) -> dict:
    pass_s = statistics.median(p["wall_s"] for p in rec["passes"])
    ops = [x for p in rec["passes"] for x in p["latencies"]]
    return {
        "setup_s": (statistics.median(rec["setups"]), "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.rows / pass_s, "rows/s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "stored_mb": (rec["stored_bytes"] / 1e6, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        spark = start_session(work)
        log("session up")
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, work)
            rec = measure(wl, args.seconds, bool(args.trace))
            res = result(wl, rec, bool(args.trace))
            write_detail(args, wl, rec)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0


def result(wl, rec, trace: bool) -> dict:
    """The JSON object the run prints last."""
    if trace:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(rec)
    else:
        metrics = end_to_end(wl, rec)
    return {
        "correct": not rec["problems"] and rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def write_detail(args, wl, rec) -> None:
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {k: v for k, v in rec.items() if k != "tracer"}
    detail.update(workload=wl.name, seed=args.seed, rows=wl.rows, properties=wl.properties)
    if "tracer" in rec:
        detail["spans"] = rec["tracer"].records()
    path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
