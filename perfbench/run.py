#!/usr/bin/env python3
"""Benchmark of record for pfutil_spark.

    python3 perfbench/run.py --workload lowcard_lang --seed 1 --seconds 12 --trace 0

Run from the repository root. One driver process starts a ``local[N]``
Spark session (N = min(3, usable cores)), writes the workload's seeded
inputs as parquet under ``.perfbench_work/``, warms up, and then runs a
closed loop: one client submits its next job only after the previous one
returned a collected result. Every result is checked against an oracle
that does not use ``pfutil_spark.operators``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around each layer call and prints the per-layer
metrics, writing the spans to ``.perfbench_work/traces/``. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; earlier lines carry input sizes and context.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_CORES = 3

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "job_s_p50": "s",
    "worker_rss_peak_mb": "MB",
}
LAYER_UNITS = {
    "sources.scan_s": "s",
    "scan.consume_s": "s",
    "scan.pyscan_taken": "count",
    "spark.tasks": "count",
    "spark.cpu_s": "s",
    "partial.s": "s",
    "partial.rows_out": "count",
    "partial.bytes": "bytes",
    "merge.s": "s",
    "merge.batch_s": "s",
    "merge.passthrough_ratio": "ratio",
    "eval.s": "s",
    "kernel.murmur.rows_per_s": "rows/s",
    "kernel.hll.hash_patlen_rows_per_s": "rows/s",
    "kernel.hll.update_grouped_rows_per_s": "rows/s",
    "kernel.hll.encode_groups_rows_per_s": "rows/s",
    "kernel.hll.estimate_sketches_per_s": "sketches/s",
    "kernel.kll.fold_rows_per_s": "rows/s",
    "kernel.tdigest.fold_rows_per_s": "rows/s",
    "kernel.cms.fold_rows_per_s": "rows/s",
    "kernel.kmv.fold_rows_per_s": "rows/s",
    "trace.overhead_s": "s",
}
# layer metrics of the design that are not reported under their own
# name, and why
NOT_REPORTED = {
    "streaming.batch_sketch_s": "no separate public call; it is partial.s plus the "
    "batch's share of merge.s on state_update",
    "streaming.state_read_s": "state reads are inside streaming.update and "
    "streaming.estimates spans; no separate public read call is timed",
    "streaming.state_bytes_written": "constant per seed (exact byte count); printed as "
    "state_bytes in the context line of state_update runs",
    "hll_agg.count_s": "reported as eval.s on lowcard_lang (pf_count_col)",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb every measured result before it is checked "
                        "(the oracle must then count every job as failed)")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package under test."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")


def start_spark(work: str):
    from pyspark.sql import SparkSession

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.driver.memory", "2g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every process this
    run started (the JVM and the Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench import procmon

    started = procmon.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in started if procmon.is_running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if procmon.is_running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def measure(wl, spark, seconds: float, corrupt: bool) -> tuple[dict, dict]:
    """Closed loop of plain jobs; returns (metrics, context)."""
    from perfbench import procmon
    from perfbench.workloads import Timer

    times: list[float] = []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    with procmon.RssSampler(os.getpid()) as rss:
        while True:
            attempted += 1
            timer = Timer()
            try:
                result = wl.run_job(spark, timer)
                ok = wl.check(wl.corrupt(result) if corrupt else result)
            except Exception as exc:  # a failing job counts; the loop goes on
                print(f"job {attempted} raised: {exc!r}", file=sys.stderr)
                ok = False
            failed += not ok
            times.append(timer.elapsed)
            if time.perf_counter() >= deadline or wl.exhausted():
                break
    p50 = statistics.median(times)
    metrics = {
        "rows_per_s": wl.rows_per_job / p50,
        "job_s_p50": p50,
        "worker_rss_peak_mb": rss.peak_bytes / 2**20,
    }
    context = {"jobs": attempted, "failed": failed, "job_s": times, **wl.context()}
    return metrics, context


def measure_traced(wl, spark, seconds: float, work: str) -> tuple[dict, dict]:
    """Alternate one traced iteration (one span per layer call) with one
    plain job, for ``seconds``; kernel probes run once first."""
    from perfbench import procmon
    from perfbench.kernels import probe_kernels
    from perfbench.trace import Tracer
    from perfbench.workloads import Timer

    sc = spark.sparkContext
    tracer = Tracer()
    values: dict = {}
    deadline = time.perf_counter() + seconds
    with tracer.span("kernels", job=0):
        values.update(probe_kernels(wl.sample(), tracer))
    traced_walls, plain_walls, tasks, cpus = [], [], [], []
    attempted = failed = 0
    job = 0
    while True:
        job += 1
        attempted += 1
        with tracer.span("job", job=job) as rec:
            ok, vals = wl.traced_iteration(spark, tracer)
        traced_walls.append(rec["end"] - rec["start"])
        values.update(vals)
        failed += not ok
        job += 1
        attempted += 1
        group = f"perfbench-job-{job}"
        sc.setJobGroup(group, group)
        timer = Timer()
        cpu0 = procmon.cpu_seconds(os.getpid())
        try:
            result = wl.run_job(spark, timer)
            cpus.append(procmon.cpu_seconds(os.getpid()) - cpu0)
            failed += not wl.check(result)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plain_walls.append(timer.elapsed)
        tasks.append(spark_tasks(sc, group))
        if time.perf_counter() >= deadline or wl.exhausted():
            break
    for metric, span in wl.LAYER_SPANS.items():
        values[metric] = statistics.median(tracer.durations(span))
    values["spark.tasks"] = statistics.median(tasks)
    values["spark.cpu_s"] = statistics.median(cpus)
    values["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(plain_walls)
    missing = sorted(set(LAYER_UNITS) - set(values))
    if missing:
        raise RuntimeError(f"per-layer metrics without a measurement: {missing}")

    trace_dir = os.path.join(work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans_file = os.path.join(trace_dir, f"{wl.name}-seed{wl.seed}.json")
    notes = {
        "workload": wl.name,
        "layer_spans": wl.LAYER_SPANS,
        "not_reported": NOT_REPORTED,
        "traced_job_s": traced_walls,
        "plain_job_s": plain_walls,
    }
    tracer.write(spans_file, notes)
    self_times = {
        name: {"self_s": round(v["self_s"], 6), "count": v["count"]}
        for name, v in tracer.self_times().items()
    }
    context = {
        "spans_file": os.path.relpath(spans_file, ROOT),
        "self_times": self_times,
        "jobs": attempted,
        "failed": failed,
    }
    return values, context


def host_calibration_ms() -> float:
    """Median time of a fixed single-threaded numpy sort. The host's CPU
    speed drifts by about 20% between runs, and this figure in the context
    line shows how fast the host was during a run."""
    import numpy as np

    values = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(values)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def spark_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    total = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                total += stage.numTasks
    return total


def run(args) -> dict:
    from perfbench import procmon

    calib_start = host_calibration_ms()
    t_setup = time.perf_counter()
    load_start = procmon.loadavg()
    steal_start = procmon.steal_seconds()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.seed, work, args.scale)

    # input generation and writing overlap the JVM start
    gen_error: list[BaseException] = []
    inputs: dict = {}

    def generate():
        try:
            wl.generate()
            inputs.update(wl.write())
        except BaseException as exc:  # re-raised on the main thread
            gen_error.append(exc)

    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    gen = threading.Thread(target=generate, name="generate")
    gen.start()
    spark = start_spark(work)
    try:
        phase("session")
        gen.join()
        if gen_error:
            raise gen_error[0]
        phase("inputs")
        print(json.dumps({"workload": wl.name, "seed": args.seed, "inputs": inputs}), flush=True)
        wl.start_oracle()
        wl.warmup(spark)
        phase("warmup")
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            values, context = measure_traced(wl, spark, args.seconds, WORK)
            units = LAYER_UNITS
        else:
            values, context = measure(wl, spark, args.seconds, args.corrupt)
            values["setup_s"] = setup_s
            units = E2E_UNITS
    finally:
        stop_spark(spark)
    context["setup_phases_s"] = phases
    context["loadavg_start"] = load_start
    context["loadavg_end"] = procmon.loadavg()
    context["host_steal_s"] = round(procmon.steal_seconds() - steal_start, 2)
    context["host_calib_ms"] = [round(calib_start, 2), round(host_calibration_ms(), 2)]
    print(json.dumps({"context": context}), flush=True)
    return {
        "correct": context["failed"] == 0,
        "attempted": context["jobs"],
        "failed": context["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pfutil_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is not importable: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
