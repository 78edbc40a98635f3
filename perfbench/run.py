"""Benchmark entry point.

    python3 perfbench/run.py --workload topic_report --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process runs one workload: it pins
the environment, makes its inputs from ``--seed``, sets up (session,
inputs, warm-up, answer twins), runs the timed phase for about
``--seconds`` seconds, checks the answers, and prints one JSON object as
the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, and
the full trace is written to ``.perfbench_work/traces/`` under a name of
its own.  Everything the run writes stays under ``.perfbench_work/`` in the
checkout.  The run's work directory is left in place when it ends: deleting
the stream's ~3,000 small files, once written back, takes 10-20 s on a disk
mounted with online discard, which would make every run that much longer.
``rm -rf .perfbench_work`` clears them.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PKG = "topic_modeling_ajin_spark"


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def pin_environment(work: str) -> dict:
    """Set the engine's knobs from the host instead of the package
    defaults (32 CPUs and a 16g heap, which do not fit a small host), keep
    Spark's and Python's temporary files inside the run directory, and put
    the package on the Python workers' path.  Returns what was set."""
    host = host_facts()
    heap_mb = max(1024, min(8192, host["mem_total_mb"] // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the launcher's too, keeps its temp files here and
        # writes no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {**pinned, **{f"host_{k}": v for k, v in host.items()}}


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def proc_status_mb(pid: str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(field + ":")) / 1024


def cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="spark-text-analytics benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG!r} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        env = pin_environment(work)
        from workloads import WORKLOADS, Context

        from topic_modeling_ajin_spark.session import get_spark

        wl = WORKLOADS[args.workload]
        ctx = Context(work=work, seed=args.seed, seconds=args.seconds)
        wl.make_inputs(ctx)
        t_session = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work, args.trace))
        spark.range(1).count()
        session_s = time.perf_counter() - t_session
        ctx.spark = spark
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        t_warm = time.perf_counter()
        wl.setup(ctx)
        warm_s = time.perf_counter() - t_warm

        tracer = None
        if args.trace:
            from layers import Tracer

            spark.profile.clear()
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer = Tracer(spark)
            tracer.install()
        setup_s = time.perf_counter() - T_START
        epoch0, t0 = time.time(), time.perf_counter()
        if tracer:
            timed = tracer.call("bench", "timed_phase", wl.timed, ctx)
        else:
            timed = wl.timed(ctx)
        wall_s = time.perf_counter() - t0
        epoch1 = time.time()
        wl.collect(ctx, timed)
        # peak RSS follows the collector's heap sizing and spread by a
        # quarter between runs of the same code, so it is recorded but bounds
        # nothing
        peak_rss = {p: proc_status_mb(p, "VmHWM") for p in ("self", str(jvm_pid))}
        udfs: dict = {}
        layer = {"session.start_s": session_s, "cache.storage_mb": cache_mb(spark),
                 "driver.peak_rss_mb": sum(peak_rss.values()), **timed.layer}
        if tracer:
            from layers import udf_kernel_seconds

            from topic_modeling_ajin_spark import cache

            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            layer.update(udf_kernel_seconds(spark, udfs), **{"cache.entries": len(cache._CACHE)})
        t_check = time.perf_counter()
        failed = wl.check(ctx, timed)
        check_s = time.perf_counter() - t_check
        stop(spark)  # also flushes the event log
        spark = None
        if not timed.latencies:
            print(f"error: {args.workload} completed no operation", file=sys.stderr)
            return 1

        detail = {"env": env, "inputs": ctx.meta, "samples": len(timed.latencies),
                  "latencies_s": timed.latencies, "wall_s": wall_s, "setup_s": setup_s,
                  "check_s": check_s, "peak_rss_mb": peak_rss,
                  "setup_parts_s": {"imports_and_inputs": t_session - T_START, "session": session_s,
                                    "warm": warm_s}}
        if tracer:
            from layers import read_event_log, summarize

            (log,) = os.listdir(ctx.path("eventlog"))
            events = read_event_log(ctx.path("eventlog", log), epoch0 * 1e3, epoch1 * 1e3)
            metrics = summarize(tracer, events, (t0, t0 + wall_s), layer)
            detail["udf_profiles"] = udfs
            detail["trace_file"] = write_trace(args, detail, metrics, tracer)
        else:
            metrics = end_to_end(timed, wall_s, setup_s)
        print(json.dumps({"detail": detail}))
        units = metric_units(bool(args.trace))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": int(timed.attempted),
            "failed": int(failed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        if spark is not None:
            stop(spark)


def stop(spark) -> None:
    """Stop the session and wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def end_to_end(timed, wall_s: float, setup_s: float) -> dict[str, float]:
    """The end-to-end metrics.  A batch is the input one call processes:
    the whole corpus for a ``run_full_analysis`` pass, one micro-batch
    (the listener's ``batchDuration``) for the stream."""
    lat = timed.latencies
    return {
        "setup_s": setup_s,
        "docs_per_s": timed.docs / wall_s,
        "batch_p50_s": statistics.median(lat),
    }


def metric_units(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def write_trace(args, detail: dict, metrics: dict, tracer) -> str:
    """Write the run's spans and layer metrics to a file named after the
    workload, seed, time and process, so no run overwrites another's."""
    out_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-{stamp}-p{os.getpid()}.json")
    spans = [vars(sp) for sp in tracer.spans]
    with open(path, "x") as f:
        json.dump({"workload": args.workload, "seed": args.seed, **detail,
                   "metrics": metrics, "spans": spans}, f)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
