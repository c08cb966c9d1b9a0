#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload {ingest,stream,queries} \\
        --seed N --seconds S --trace {0,1}

Run it from anywhere inside a checkout: the engine package is found
next to this directory. Spark runs in this process on ``local[N]``,
N = the CPUs this process may use, with an explicit driver memory;
every file the run writes (Spark local dirs, temp files, staged inputs,
outputs, the event log) lives under ``.perfbench_work/`` in the
checkout and is deleted before exit.

Standard output ends with two JSON lines. The first is the detail
record: the workload's own metric names with units and sample counts,
the environment stamp (CPUs, master, driver memory, versions, source
digest, seed, load average) and any errors. The last line is the
result: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics of ``metrics.END_TO_END`` when untraced and the
per-layer metrics of ``metrics.PER_LAYER`` when traced.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cassaforte_meter_transmission_gen_spark"
#: explicit driver heap (the package default, 16g, exceeds small hosts)
DRIVER_MEMORY = "3g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "stream", "queries"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def configure_environment(work: str, cpus: int, trace: bool) -> None:
    """Point every writer at ``work`` and fix the Spark launch settings.
    Must run before the JVM starts."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    pythonpath = [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": DRIVER_MEMORY,
            # Python workers import the package (pandas UDFs, UDTFs)
            "PYTHONPATH": os.pathsep.join(pythonpath),
        }
    )
    tempfile.tempdir = None
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def run(args: argparse.Namespace, work: str, started: float) -> int:
    cpus = len(os.sched_getaffinity(0))
    configure_environment(work, cpus, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    from cassaforte_meter_transmission_gen_spark.session import get_spark

    import metrics
    import tracing
    from workloads import WORKLOADS, Params, flagship_probe, write_probes

    load_start = os.getloadavg()
    wl, p = WORKLOADS[args.workload], Params.from_seed(args.seed)
    spark = staged = None
    setup_times: list[float] = []
    stage_times: list[float] = []
    session_start_s = 0.0
    try:
        for rep in range(wl.setup_reps):
            rep_dir = os.path.join(work, f"setup{rep}")
            shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)
            os.makedirs(rep_dir)
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench")
            if rep == 0:
                session_start_s = time.perf_counter() - t0
            spark.range(0, 1_000_000, 1, cpus).selectExpr("sum(id)").collect()
            t1 = time.perf_counter()
            staged = wl.stage(spark, rep_dir, p)
            stage_times.append(time.perf_counter() - t1)
            setup_times.append(time.perf_counter() - t0)

        tracer = tracing.Tracer(spark) if args.trace else None
        res = wl.measure(spark, staged, p, args.seconds, work, tracer)
        mem_peak_mb = jvm_peak_rss_mb(spark)
        probes = {}
        if tracer:
            # the write-side layers are probed on the write workloads, the
            # flagship read on the read workload
            if wl.name == "queries":
                probes = flagship_probe(spark, p, staged[1], tracer)
            else:
                probes = write_probes(spark, p, work, tracer)
            if wl.name == "stream":
                probes["sources.stage_s"] = statistics.median(stage_times)
        stamp = environment_stamp(spark, args, cpus, load_start)
        if tracer:
            tracer.close()
            spark.stop()  # completes the event log
    finally:
        if spark is not None:
            shutdown(spark)

    detail = {
        "workload": wl.name,
        "trace": args.trace,
        "metrics": res.detail,
        "ops_s": res.ops,
        "ops_cpu_s": res.ops_cpu,
        "warmup_s": res.warmup,
        "setup_s_each": setup_times,
        "session_start_s": session_start_s,
        "stamp": stamp,
        "errors": res.errors,
        "wall_s": time.perf_counter() - started,
    }
    if args.trace:
        layers = layer_metrics(metrics, tracing, wl.name, res, probes, session_start_s, work)
        detail["per_layer"] = layers
        out = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layers.items()}
    else:
        values = {
            "setup_s": statistics.median(setup_times),
            "throughput_per_cpu_s": res.throughput_per_cpu_s,
            "op_cpu_s": statistics.median(res.ops_cpu) if res.ops_cpu else 0.0,
            "cold_cpu_s": res.cold_cpu_s,
            "mem_peak_mb": mem_peak_mb,
            "throughput_per_s": res.throughput_per_s,
            "op_p50_s": statistics.median(res.ops) if res.ops else 0.0,
            "cold_s": res.cold_s,
        }
        out = {n: {"value": values[n], "unit": u} for n, u, *_ in metrics.END_TO_END}
        detail["unbounded"] = {n: {"value": values[n], "unit": u} for n, u in metrics.UNBOUNDED}
    print(json.dumps(detail))
    print(
        json.dumps(
            {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": out}
        )
    )
    return 0


def layer_metrics(metrics, tracing, workload: str, res, probes: dict, session_start_s: float, work: str) -> dict:
    """Every per-layer metric for this traced run, tagged with what it
    should move. Layer probes run on every traced run; a loop metric of a
    layer the workload does not exercise reads 0."""
    from workloads import QUERY_MIX

    tr = res.trace
    values = {m["name"]: 0 for m in metrics.PER_LAYER}
    values["session.start_s"] = session_start_s
    values.update(probes)
    values.update(tr.layers())
    values.update(res.layers)
    if "trace.overhead_frac" not in probes:
        values["trace.overhead_frac"] = tr.overhead_frac()
    log = tracing.event_log_file(os.path.join(work, "eventlog"))
    if log is not None and tr.warm_windows:
        ev = tracing.summarize_event_log(log, tr.warm_windows)
        n = max(tr.n_warm, 1)
        for k in ("jobs", "stages", "tasks", "task_time_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "output_bytes"):
            values[f"exec.{k}"] = ev[k] / n
        values["exec.task_skew"] = ev["task_skew"]
    if log is not None and tr.build_windows:
        eager = tracing.summarize_event_log(log, tr.build_windows)["jobs"]
        values["plans.eager_jobs"] = eager / len(tr.build_windows) * len(QUERY_MIX)
    return {
        m["name"]: {
            "value": values[m["name"]],
            "unit": m["unit"],
            "workloads": list(m["workloads"]),
            "moves": m["moves"],
            "exercised": workload in m["workloads"] or m["name"] in probes,
        }
        for m in metrics.PER_LAYER
    }


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def environment_stamp(spark, args, cpus: int, load_start) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", DRIVER_MEMORY),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_sha": git_sha(),
        "source_sha1": source_digest(),
        "seed": args.seed,
        "seconds": args.seconds,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }


def git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or None


def source_digest() -> str:
    """sha1 over the package's Python sources, which identifies the code
    measured even where the checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def shutdown(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
