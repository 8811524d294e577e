"""One benchmark run: session, set-up, warm-up, a timed window of jobs,
output checks, and the metrics of :mod:`perfbench.metrics`.

An untraced run reports the end-to-end metrics. A traced run turns on
the Spark event log, records spans on every other job of the window
(the jobs in between give the in-process tracing overhead) and then
makes the per-layer probe calls; it reports the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import procs
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.trace import Tracer, median_or_zero, read_event_log
from perfbench.workloads import N_PAGES, WORKLOADS, CheckFailed, Ctx

SETUP_REPEATS = 3
MIN_JOBS = 3
WARMUP_S = 8.0
DRIVER_MEMORY = "2g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(work: str, event_log: str | None):
    from argo_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cpu_count()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    if not procs.wait_children_gone(os.getpid(), timeout_s=30):
        for pid in procs.tree_pids(os.getpid())[1:]:
            os.kill(pid, signal.SIGKILL)
        procs.wait_children_gone(os.getpid(), timeout_s=30)


def _prepare_env(root: str, work: str) -> None:
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs would otherwise keep their perf counters under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; (0, 0) when there are too few samples."""
    n = len(values)
    if n <= 10:
        return 0.0, 0.0
    k = n - 10  # samples at or below the reported one
    return sorted(values)[k - 1], 100.0 * k / n


def run(root: str, workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(root, work)
    event_log = os.path.join(work, "eventlog") if trace else None
    # the memory sampler's own reads of /proc stay out of untraced runs
    rss = procs.PeakRss(os.getpid()) if trace else contextlib.nullcontext()
    try:
        with rss:
            t0 = time.perf_counter()
            spark = _start_spark(work, event_log)
            session_s = time.perf_counter() - t0
            try:
                tracer = Tracer(spark.sparkContext, f"{workload}-{seed}")
                ctx = Ctx(spark, work, seed, max(800, int(N_PAGES * scale)), tracer)
                wl = WORKLOADS[workload](ctx)
                out = _measure(wl, seconds, trace)
            finally:
                _stop_spark(spark)
        out["layer"]["session.start_s"] = session_s
        out["setup_s"] = session_s + out["layer"]["setup.generate_s"] + out["layer"]["session.warmup_s"]
        if trace:
            out["layer"]["peak_rss_mb"] = rss.peak_mb
            tracer.write(os.path.join(root, ".perfbench_work", f"spans-{workload}-{seed}.jsonl"))
            metrics = _layer_metrics(out, tracer, read_event_log(event_log))
            return _result(out, metrics, PER_LAYER)
        return _result(out, _end_to_end(out), END_TO_END)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(wl, seconds: float, trace: bool) -> dict:
    gen = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.generate()
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.load()
    # The first warm-up job pays for class loading, code generation and
    # Python worker imports, and has its output checked in full. Short
    # jobs (a query block) keep getting faster while the JIT compiles
    # Spark's planner, so more jobs follow until WARMUP_S have passed.
    # Warm-up jobs are attempted operations.
    attempted, failed = 0, 0
    warm_until = time.perf_counter() + WARMUP_S
    for n in itertools.count():
        attempted += 1
        try:
            wl.job(f"warmup-{n}", full_check=n == 0)
        except CheckFailed:
            failed += 1
            traceback.print_exc(file=sys.stderr)
        if time.perf_counter() >= warm_until:
            break
    warmup_s = time.perf_counter() - t0
    _log(f"set-up: generate {[round(g, 3) for g in gen]} s, load + warm-up {warmup_s:.3f} s")

    tracer = wl.ctx.tracer
    jobs = []
    deadline = time.perf_counter() + seconds
    # At least MIN_JOBS jobs: the first timed job of a run is often the
    # slowest, and the median of three leaves it out. A traced run
    # traces every other job, starting with the second, so that a run of
    # three jobs compares the traced one with the jobs on either side.
    for i in itertools.count():
        if i >= MIN_JOBS and time.perf_counter() >= deadline:
            break
        traced = trace and i % 2 == 1
        tracer.enabled = traced
        attempted += 1
        t0 = time.perf_counter()
        try:
            result = wl.job(str(i), full_check=False)
            jobs.append((result, traced))
            _log(f"job {i}: {result.seconds:.3f} s, checked {time.perf_counter() - t0 - result.seconds:.3f} s")
        except Exception:  # a failed job is counted, the window goes on
            failed += 1
            traceback.print_exc(file=sys.stderr)
        finally:
            tracer.enabled = False
    if trace:
        tracer.enabled = True
        wl.probes()
        tracer.enabled = False
    wl.close()
    wl.layer.update({"session.warmup_s": warmup_s, "setup.generate_s": statistics.median(gen)})
    return {"jobs": jobs, "attempted": attempted, "failed": failed, "layer": wl.layer, "workload": wl}


def _end_to_end(out: dict) -> dict:
    done = [r for r, _ in out["jobs"]]
    return {
        "setup_s": out["setup_s"],
        "job_p50_s": median_or_zero([r.seconds for r in done]),
        "triples_per_s": median_or_zero([r.triples / r.seconds for r in done]),
    }


def _layer_metrics(out: dict, tracer: Tracer, groups) -> dict:
    wl = out["workload"]
    m = {metric.name: 0.0 for metric in PER_LAYER}
    m.update(out["layer"])

    def calls(name):
        return tracer.named(name)

    def mean(values):
        return statistics.fmean(values) if values else 0.0

    def seconds(name):
        return median_or_zero([s.seconds for s in calls(name)])

    def rolled(name):
        return [tracer.rollup(s, groups) for s in calls(name)]

    runs = rolled("pipeline.run")
    m["pipeline.run_s"] = seconds("pipeline.run")
    m["pipeline.run_self_s"] = median_or_zero([tracer.self_seconds(s) for s in calls("pipeline.run")])
    m["pipeline.run_jobs"] = mean([g.jobs for g in runs])
    m["pipeline.run_stages"] = mean([g.stages for g in runs])
    m["pipeline.input_mb"] = mean([g.input_bytes / 1e6 for g in runs])
    m["pipeline.shuffle_write_mb"] = mean([g.shuffle_write_bytes / 1e6 for g in runs])
    m["manifest.done_buckets_s"] = seconds("manifest.done_buckets")
    m["manifest.record_s"] = seconds("manifest.record")
    m["manifest.rows"] = mean([g.output_records for g in rolled("manifest.record")])
    m["pipeline.materialize_s"] = seconds("pipeline.materialize")
    m["pipeline.squish_shuffle_mb"] = mean([g.shuffle_write_bytes / 1e6 for g in rolled("pipeline.materialize")])

    for name in ("extract.stage", "dedup.entity_mapping", "ntriples.write",
                 "ntriples.parse", "sinks.turtle_write"):
        m[name + "_s"] = seconds(name)
    m["extract.tasks"] = mean([g.tasks for g in rolled("extract.stage")])
    # one record of the turtle write is the prefix header sidecar
    m["sinks.blocks"] = mean([g.output_records - 1 for g in rolled("sinks.turtle_write")])

    for span in {s.name for s in tracer.spans if s.name.startswith("sparql.")}:
        m[span + "_s"] = seconds(span)

    traced_queries = rolled("query")
    m["sparql.jobs_per_query"] = mean([g.jobs for g in traced_queries])
    m["sparql.tasks_per_query"] = mean([g.tasks for g in traced_queries])
    traced_jobs = rolled("job")
    m["spark.gc_s"] = mean([g.gc_ms / 1e3 for g in traced_jobs])
    m["spark.spill_mb"] = mean([g.spill_bytes / 1e6 for g in traced_jobs])
    m["spark.scheduler_delay_s"] = mean([g.scheduler_delay_ms / 1e3 for g in traced_jobs])
    m["spark.failed_tasks"] = mean([g.failed_tasks for g in traced_jobs])

    job_s = [r.seconds for r, _ in out["jobs"]]
    step_s = [s for r, _ in out["jobs"] for s in r.steps]
    m["latency.job_tail_s"], m["latency.job_tail_pct"] = tail(job_s)
    m["latency.jobs"] = len(job_s)
    m["latency.step_p50_s"] = median_or_zero(step_s)
    m["latency.step_tail_s"], m["latency.step_tail_pct"] = tail(step_s)
    m["latency.steps"] = len(step_s)

    traced = [r.seconds for r, t in out["jobs"] if t]
    untraced = [r.seconds for r, t in out["jobs"] if not t]
    m["trace.job_p50_s"] = median_or_zero(traced)
    if traced and untraced:
        m["trace.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1
    m["trace.spans"] = len(tracer.spans)

    m["check.error_rate"] = out["failed"] / out["attempted"]
    return m


def _result(out: dict, metrics: dict, declared) -> dict:
    for name, value in metrics.items():
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {d.name: {"value": float(metrics[d.name]), "unit": d.unit} for d in declared},
    }
