"""Names, units and intended effects of every benchmark metric.

``END_TO_END`` are what a user of the engine sees; an untraced run
prints all of them for its workload. ``PER_LAYER`` are single-layer
figures from the traced run, each tagged with the workload that
exercises the layer and the end-to-end metric it should move there.
A traced run prints every per-layer name. The ``sources.*``,
``rollups.*`` and ``ingest.*`` figures come from layer probes that run
on every traced run; any other layer the workload does not exercise
reads 0 and is tagged ``"exercised": false``.
"""

from __future__ import annotations

from workloads import QUERY_MIX

#: (name, unit, better, bound, meaning per workload). Besides set-up
#: time and memory, the bounded figures are CPU seconds of the
#: benchmark's process tree (the Spark driver JVM, its Python workers and
#: the client), which exclude the time a shared host takes from this
#: machine; wall-clock figures vary with that load by more than any
#: useful bound (see README.md).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "median of the set-ups: session start, warmup job and input staging"),
    ("throughput_per_cpu_s", "1/cpu_s", "higher", 0.25,
     "ingest: samples per CPU-second of the median call; stream: staged samples per "
     "CPU-second over the window's drains; queries: warm executions per CPU-second "
     "(the mix over the sum of its per-query CPU medians)"),
    ("cold_cpu_s", "cpu_s", "lower", 0.25,
     "CPU seconds of the first ingest call / first drain / cold pass over the query mix"),
    ("mem_peak_mb", "MB", "lower", 0.25, "peak resident memory of the Spark JVM"),
]

#: printed in the detail line but not bounded: the median unit
#: operation's CPU seconds, and the wall-clock counterparts
UNBOUNDED = [
    ("op_cpu_s", "cpu_s"),
    ("throughput_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("cold_s", "s"),
]

ALL = ("ingest", "stream", "queries")


def _layer(name, unit, workloads, moves, better="lower"):
    return {"name": name, "unit": unit, "workloads": workloads, "moves": moves, "better": better}


PER_LAYER = [
    _layer("session.start_s", "s", ALL, "setup_s"),
    _layer("sources.raw_write_s", "s", ("ingest", "stream"), "throughput_per_cpu_s"),
    _layer("sources.raw_bytes", "B", ("ingest",), "ingest_stored_bytes_per_sample"),
    _layer("sources.raw_files", "count", ("ingest",), "ingest_stored_bytes_per_sample"),
    _layer("sources.stage_s", "s", ("stream",), "setup_s"),
    _layer("sources.flagship_read_s", "s", ("queries",), "throughput_per_cpu_s"),
    _layer("sources.flagship_partitions_read", "count", ("queries",), "throughput_per_cpu_s"),
    _layer("sources.flagship_files_read", "count", ("queries",), "throughput_per_cpu_s"),
    _layer("rollups.second_write_s", "s", ("ingest",), "throughput_per_cpu_s"),
    _layer("rollups.chain_s", "s", ("ingest",), "throughput_per_cpu_s"),
    _layer("ingest.call_s", "s", ("ingest",), "throughput_per_cpu_s"),
    _layer("ingest.overlap_ratio", "ratio", ("ingest",), "throughput_per_cpu_s", "higher"),
    _layer("ingest.raw_write_in_call_s", "s", ("ingest",), "throughput_per_cpu_s"),
    _layer("ingest.sink_write_s", "s", ("ingest",), "throughput_per_cpu_s"),
    _layer("ingest.stored_bytes_per_sample", "B/sample", ("ingest",), "ingest_stored_bytes_per_sample"),
    _layer("stream.batch_fn_s", "s", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.add_batch_s", "s", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.trigger_overhead_s", "s", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.wal_commit_s", "s", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.query_planning_s", "s", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.latest_offset_s", "s", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.batches", "count", ("stream",), "throughput_per_cpu_s"),
    _layer("stream.rows_per_batch", "count", ("stream",), "throughput_per_cpu_s", "higher"),
    _layer("stream.output_files", "count", ("stream",), "throughput_per_cpu_s"),
    _layer("plans.build_cold_s", "s", ("queries",), "cold_cpu_s"),
    _layer("plans.build_warm_s", "s", ("queries",), "throughput_per_cpu_s"),
    _layer("plans.eager_jobs", "count", ("queries",), "cold_cpu_s"),
    *[_layer(f"plans.{q}.build_s", "s", ("queries",), "throughput_per_cpu_s") for q in QUERY_MIX],
    _layer("catalyst.analysis_s", "s", ALL, "throughput_per_cpu_s"),
    _layer("catalyst.optimization_s", "s", ALL, "throughput_per_cpu_s"),
    _layer("catalyst.planning_s", "s", ALL, "throughput_per_cpu_s"),
    _layer("catalyst.actions", "count", ALL, "throughput_per_cpu_s"),
    _layer("catalyst.analysis_cold_s", "s", ALL, "cold_cpu_s"),
    _layer("catalyst.optimization_cold_s", "s", ALL, "cold_cpu_s"),
    _layer("catalyst.planning_cold_s", "s", ALL, "cold_cpu_s"),
    _layer("exec.jobs", "count", ALL, "throughput_per_cpu_s"),
    _layer("exec.stages", "count", ALL, "throughput_per_cpu_s"),
    _layer("exec.tasks", "count", ALL, "throughput_per_cpu_s"),
    _layer("exec.task_time_s", "s", ALL, "throughput_per_cpu_s"),
    _layer("exec.shuffle_write_bytes", "B", ALL, "throughput_per_cpu_s"),
    _layer("exec.shuffle_read_bytes", "B", ALL, "throughput_per_cpu_s"),
    _layer("exec.spill_bytes", "B", ALL, "throughput_per_cpu_s"),
    _layer("exec.output_bytes", "B", ALL, "throughput_per_cpu_s"),
    _layer("exec.task_skew", "ratio", ALL, "throughput_per_cpu_s"),
    _layer("exec.gc_s", "s", ALL, "throughput_per_cpu_s"),
    *[_layer(f"exec.{q}.cold_s", "s", ("queries",), "cold_cpu_s") for q in QUERY_MIX],
    *[_layer(f"exec.{q}.warm_s", "s", ("queries",), "throughput_per_cpu_s") for q in QUERY_MIX],
    _layer("trace.overhead_frac", "ratio", ALL, "none (tracing cost)"),
]
