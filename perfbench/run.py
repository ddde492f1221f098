"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 4 --trace 0

Run from the repository root. The run pins itself to two CPUs, starts
one Spark driver at ``local[2]``, generates the seeded inputs and runs the cold first
iteration (with the session start, that is the set-up), then a second,
untimed warm-up pass, then runs warm iterations for ``--seconds``
seconds, and at least the workload's minimum, and checks every output. The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``, which alternates traced and untraced iterations so the
tracing overhead is measured in the same run). The line before it is a
``{"record": ...}`` object with the run context: host calibration,
set-up components, input sizes, iteration counts, ``rows_per_s``,
``failed_frac``, ``peak_rss_mb`` and ``steal_frac``. Spans of a traced
run are written to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The run is pinned to this many CPUs, and Spark runs as many task
# threads. On a shared host a job spread thinly over every CPU waits on
# the hypervisor at each hand-off between threads, so its time follows
# the neighbours' load; a job that keeps its CPUs busy does not.
CORES = 2
DRIVER_MEMORY = "2g"


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_times() -> list[int]:
    """The host-wide CPU tick counters of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="pages_batch scale factor (default 0.005; the smoke test uses "
                         "0.001)")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="offset one expected value so the checks must fail")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # fails here, before any work, in a directory without the program
    from osm_pbf_convert_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every scratch file of Spark and Python inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # before anything starts: the JVM, the Python workers and DuckDB
    # inherit the pinning and size their thread pools to it
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CORES])
    calibration = tracing.calibration_s()
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(spark, run_id)
    wl = workloads.WORKLOADS[args.workload](
        spark, tracer, args.seed, sf=args.sf, wrong_expected=args.wrong_expected)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "calibration_s": calibration, "session_start_s": session_s}
    ops: list[bool] = []  # one entry per iteration: outputs correct
    try:
        # set-up, once per process so that every part of it is cold
        t0 = time.perf_counter()
        info = wl.generate(os.path.join(work, "input"))
        t1 = time.perf_counter()
        _, good = wl.run(os.path.join(work, "setup"))
        t2 = time.perf_counter()
        ops.append(wl.setup_check(os.path.join(work, "setup")) and good)
        shutil.rmtree(os.path.join(work, "setup"), ignore_errors=True)
        record.update(gen_s=t1 - t0, cold_s=t2 - t1, check_s=time.perf_counter() - t2)
        record["inputs"] = {k: v for k, v in info.items()
                            if k.startswith(("n_", "input_", "payload_"))}

        # timed phase
        sampler = tracing.RssSampler(spark.sparkContext._gateway.proc.pid)
        iters: dict[bool, list[float]] = {False: [], True: []}
        sampler.start()
        ticks = cpu_times()
        start, i = time.perf_counter(), 0
        # at least the workload's minimum, and one of each kind in a
        # traced run, which alternates
        n_min = max(wl.min_iterations, 1 + args.trace)
        while i < n_min or time.perf_counter() - start < args.seconds:
            traced = bool(args.trace) and i % 2 == 1
            tracer.start_iteration(i, traced)
            out = os.path.join(work, f"iter{i}")
            lat, good = wl.run(out)
            tracer.start_iteration(i, False)
            shutil.rmtree(out, ignore_errors=True)
            ops.append(good)
            iters[traced].append(lat)
            i += 1
        peak = sampler.stop()
        ticks = [b - a for a, b in zip(ticks, cpu_times())]

        setup_s = session_s + record["gen_s"] + record["cold_s"]
        job_s = statistics.median(iters[False])
        failed = ops.count(False)
        record.update({
            "iterations": len(iters[False]), "traced_iterations": len(iters[True]),
            "iteration_s": iters[False],
            "failed_frac": failed / len(ops), "peak_rss_mb": peak,
            # CPU time the hypervisor gave to other guests while this one
            # wanted it: the timed phase runs slower the higher it is
            "steal_frac": ticks[7] / max(1, sum(ticks)),
        })
        e2e = {"setup_s": (setup_s, "s"), "job_s": (job_s, "s")}
        record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        record["rows_per_s"] = info["input_rows"] / job_s
        if args.trace:
            metrics = layer_metrics(tracer, iters, peak)
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            record["trace_file"] = os.path.relpath(
                os.path.join(traces, f"{run_id}.json"), ROOT)
            with open(os.path.join(ROOT, record["trace_file"]), "w") as f:
                json.dump({"run_id": run_id, "spans": tracer.spans,
                           "counts": tracer.counts}, f)
        else:
            metrics = e2e
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(tracer, iters, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer sums per traced iteration, plus the tracing overhead
    (traced minus untraced medians from the same run) and the peak RSS."""
    n = len(iters[True])
    totals, self_sum = tracer.layer_totals()
    counts = tracer.per_iteration_counts()
    out: dict[str, tuple[float, str]] = {}
    for layer, extra in tracing.LAYERS.items():
        for f, unit in tracing.LAYER_FIELDS:
            out[f"{layer}.{f}"] = (totals[layer][f] / n, unit)
        for f, unit in extra:
            out[f"{layer}.{f}"] = (counts.get(layer, {}).get(f, 0.0), unit)
    traced_job = statistics.median(iters[True])
    untraced_job = statistics.median(iters[False])
    trace = {
        "trace.job_s": traced_job,
        "trace.untraced_job_s": untraced_job,
        "trace.overhead_s": traced_job - untraced_job,
        "trace.span_self_s": self_sum / n,
        "trace.unattributed_s": sum(iters[True]) / n - self_sum / n,
        "trace.peak_rss_mb": peak_rss_mb,
    }
    for name, unit in tracing.TRACE_FIELDS:
        out[name] = (trace[name], unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
