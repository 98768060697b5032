"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. One workload per process; ``all`` runs
each workload in its own child process and prints every end-to-end
metric of every workload. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the metrics
are the ``end_to_end`` ones of ``BENCHMARK.json`` untraced
(``--trace 0``) and the ``per_layer`` ones traced (``--trace 1``).

The run works in ``.bench_work/`` (cwd, temp files, Spark local dirs,
topics, checkpoints; deleted at exit) and leaves its trace (spans,
streaming progress JSONL, the layer numbers) in ``.bench_out/``.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def rss_mb(pids, field: str) -> float:
    """Sum over the given processes of a /proc status field: ``VmRSS``
    (resident now) or ``VmHWM`` (peak resident)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def resident_after_gc_mb(ctx) -> tuple[float, float]:
    """(resident MiB after a full GC of the JVM, peak resident MiB) of the
    JVM plus the Python driver. The peak depends on when the JVM grew its
    heap, which differs from run to run; after a full GC the heap is sized
    to what the program still holds."""
    from pyspark import SparkContext

    pids = [os.getpid(), jvm_pid()]
    peak = rss_mb(pids, "VmHWM")
    SparkContext._jvm.java.lang.System.gc()
    time.sleep(1.0)  # G1 hands freed heap regions back to the OS concurrently
    return rss_mb(pids, "VmRSS"), peak


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its parent's pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def enable_tracing(ctx) -> str:
    """Restart the Spark context with the event log on (uncompressed, not
    rolling) and the progress listener registered; return the log dir.
    The JVM stays up, so the new context reads the event-log settings
    from its system properties."""
    from pyspark import SparkContext

    log_dir = ctx.path("eventlog")
    os.makedirs(log_dir)
    ctx.spark.stop()
    system = SparkContext._jvm.java.lang.System
    for key, value in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        system.setProperty(key, value)
    return log_dir


def progress_listener(path: str):
    """A StreamingQueryListener that appends every progress event (the
    ``durationMs`` phases, state operators and source offsets) to a JSONL
    file."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with open(path, "a", encoding="utf-8") as fh:
                fh.write(event.progress.json + "\n")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def end_to_end(setup_s: float, timed, resident_mb: float) -> tuple[dict, dict]:
    import stats

    p_tail, tail = stats.tail(timed.lat_ms)
    n = len(timed.lat_ms)
    values = {
        "setup_s": setup_s,
        "ok_frac": (timed.attempted - timed.failed) / timed.attempted,
        "rss_after_gc_mb": resident_mb,
        "latency_p50_ms": stats.median(timed.lat_ms),
        "latency_tail_ms": tail,
        "records_per_s": timed.records / timed.busy_s,
    }
    samples = {
        "setup_s": "1 set-up",
        "ok_frac": f"{timed.attempted} operations",
        "rss_after_gc_mb": "JVM + driver",
        "latency_p50_ms": f"n={n}",
        "latency_tail_ms": f"p{p_tail}, n={n}",
        "records_per_s": f"{timed.records} records",
    }
    return values, samples


def write_spans(ctx) -> None:
    with open(os.path.join(ctx.out, "spans.jsonl"), "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(s) + "\n" for s in ctx.spans)


def spark_layers(ctx, log_path: str, span: dict) -> None:
    """Event-log numbers for the jobs of the traced timed section, and for
    the registry queries of a traced batch (``ctx.query_span``)."""
    import eventlog
    import stats

    f = eventlog.fold_file(log_path)
    jobs = f.jobs_between(span["start_ms"], span["end_ms"])
    stages = f.stages_of_jobs(jobs)
    wall_s = (span["end_ms"] - span["start_ms"]) / 1000
    layer = ctx.layer
    layer["spark.tasks_per_stage_p50"] = stats.median([s.n_tasks for s in stages]) if stages else 0.0
    layer["spark.executor_busy_frac"] = sum(s.run_ms for s in stages) / 1000 / (wall_s * n_cores())
    layer["spark.executor_cpu_s"] = sum(s.cpu_ns for s in stages) / 1e9
    layer["spark.gc_s"] = sum(s.gc_ms for s in stages) / 1000
    layer["spark.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in stages) / 2**20
    layer["spark.spill_mb"] = sum(s.spill_bytes for s in stages) / 2**20
    if ctx.query_span is None:
        return
    qspan, n_ops, queries = ctx.query_span
    qjobs = f.jobs_between(qspan["start_ms"], qspan["end_ms"])
    qstages = f.stages_of_jobs(qjobs)
    layer["suite.jobs_per_query"] = len(qjobs) / n_ops
    layer["suite.stages_per_query"] = len(qstages) / n_ops
    if "d11_prefix_filter_jaccard" in queries:
        rows, verify = eventlog.ppjoin_counts(
            f, f.executions_between(qspan["start_ms"], qspan["end_ms"])
        )
        layer["operators.ppjoin_candidate_rows"] = rows / n_ops
        layer["operators.ppjoin_verify_task_s"] = (
            sum(s.run_ms for s in qstages if s.accums & verify) / 1000 / n_ops
        )


def parallel_speedup(ctx, wl, st: dict, drain_s: float) -> None:
    """The same backlog drained at local[1], against the traced drains at
    local[cores]: the single-threaded baseline of the replay."""
    from kafka_flink_spark.sources.kafka_log import register_kafka_log

    ctx.spark.stop()
    wl.open_session(ctx, master="local[1]")
    register_kafka_log(ctx.spark)
    with ctx.span("replay.drain.local1") as sp:
        wl.Replay.drain(ctx, st["topic"]).unpersist()
    ctx.layer["spark.parallel_speedup"] = sp.s / drain_s


def execute(ctx, wl, trace: bool) -> tuple[dict, dict, int, int, str | None]:
    import stats
    import workloads

    # The benchmark's inputs are written while the JVM starts.
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(wl.inputs, ctx)
        get_s = workloads.open_session(ctx)
        inputs.result()
    st = wl.setup(ctx)
    setup_s = time.time() - T_START
    timed = wl.measure(ctx, st)
    resident, peak = resident_after_gc_mb(ctx)
    values, samples = end_to_end(setup_s, timed, resident)
    write_spans(ctx)
    if not trace:
        return values, samples, timed.attempted, timed.failed, timed.mismatch

    ctx.layer["session.get_session_s"] = get_s
    ctx.layer["process.peak_rss_mb"] = peak
    ctx.layer["session.warmup_s"] = st["warmup_s"]
    log_dir = enable_tracing(ctx)
    workloads.open_session(ctx)
    ctx.spark.streams.addListener(progress_listener(ctx.progress_path))
    app_id = ctx.spark.sparkContext.applicationId
    st_b = wl.setup(ctx, tag="b")
    timed_b = wl.measure(ctx, st_b)
    span = ctx.spans[-1]  # the timed section
    time.sleep(1.0)  # listener events are delivered asynchronously
    wl.layers(ctx, st_b, timed_b, span)
    ctx.layer["tracing.overhead_frac"] = (
        stats.median(timed_b.lat_ms) / stats.median(timed.lat_ms) - 1
    )
    if wl.name == "replay_ohlcv":
        parallel_speedup(ctx, workloads, st_b, stats.median(timed_b.lat_ms) / 1000)
    ctx.spark.stop()
    spark_layers(ctx, os.path.join(log_dir, app_id), span)
    write_spans(ctx)
    spec = load_spec()
    layer_values = {m["name"]: float(ctx.layer.get(m["name"], 0.0)) for m in spec["per_layer"]}
    with open(os.path.join(ctx.out, "layers.json"), "w", encoding="utf-8") as fh:
        json.dump({"end_to_end_untraced": values, "per_layer": layer_values}, fh, indent=1)
    layer_samples = {k: ("measured" if k in ctx.layer else "not exercised") for k in layer_values}
    bad = timed.mismatch or timed_b.mismatch or ctx.mismatch
    return (layer_values, layer_samples, timed.attempted + timed_b.attempted,
            timed.failed + timed_b.failed, bad)


def run_all(args) -> int:
    """Every workload in its own process; a table of every metric."""
    spec = load_spec()
    rc = 0
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print(f"== {w['name']} (exit {proc.returncode})")
        print("\n".join(lines[:-1]))
        rc = rc or proc.returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    os.environ.update(getattr(wl, "env", {}))
    sys.path.insert(0, ROOT)
    try:
        import kafka_flink_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package to measure is missing: {e}", file=sys.stderr)
        return 2

    # Keep every file the run makes inside the checkout: Spark's Python
    # workers import the package from PYTHONPATH (the streaming-source
    # planner does not see the zip the session ships with addPyFile), and
    # derby.log, spark-warehouse, temp dirs and checkpoints land in the
    # scratch cwd.
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.chdir(work)

    load_start = os.getloadavg()[0]
    ctx = workloads.Ctx(args.seed, args.seconds, work, out)
    try:
        values, samples, attempted, failed, bad = execute(ctx, wl, bool(args.trace))
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]

    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"cores={n_cores()} load1_start={load_start:.2f} load1_end={load_end:.2f}")
    if bad:
        print(f"# output check failed: {bad}")
    for name, value in values.items():
        print(f"{name:40s} {value:14.4f} {units[name]:6s} {samples[name]}")
    print(json.dumps({
        "correct": bad is None,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
