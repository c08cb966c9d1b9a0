"""The benchmark's three workloads, each a closed loop with one client.

- ``ingest``: back-to-back ``operators.ingest.ingest_batch`` calls (the
  five-table batch write fan-out).
- ``stream``: repeated drains of a staged bounded file stream through
  ``streaming.pipeline.streaming_ingest_batch_fn`` (the exactly-once
  five-table sink), 8 files per trigger.
- ``queries``: passes over a fixed read-only mix of catalog queries plus
  the flagship ``sources.layout.read_meter_time_range``, each forced
  with a ``noop`` write; the first pass is cold, later ones warm.

Every workload has the same shape: ``stage`` builds its inputs during
set-up; ``measure`` runs a cold operation and any untimed warm-up
operations, which carry the full output checks, then the timed window
for the requested seconds; ``write_probes`` and ``flagship_probe``
(traced runs only) time single layers on their own. Outputs go to
directories that are deleted right after each operation.
"""

from __future__ import annotations

import functools
import itertools
import os
import random
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from cassaforte_meter_transmission_gen_spark import io as pkg_io
from cassaforte_meter_transmission_gen_spark.functions.energy import SAMPLE_RATE, SAW_PERIOD
from cassaforte_meter_transmission_gen_spark.operators import ingest as pkg_ingest
from cassaforte_meter_transmission_gen_spark.operators import rollups as pkg_rollups
from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES, ingest_batch
from cassaforte_meter_transmission_gen_spark.plans import REGISTRY
from cassaforte_meter_transmission_gen_spark.schemas import METER_SAMPLES
from cassaforte_meter_transmission_gen_spark.sources import layout as pkg_layout
from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
    T0_EPOCH,
    meter_samples_second,
    transmissions,
)
from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
    read_stream_table,
    streaming_ingest_batch_fn,
)

import corpus
from tests.parity import compare, duck_connection

#: energy of every generated meter-second: the sawtooth's per-tick sum
#: over the sample rate, truncated (the reference's golden value)
JOULES_PER_SECOND = sum(i % SAW_PERIOD for i in range(SAMPLE_RATE)) // SAMPLE_RATE

#: ingest shape: meters × seconds per ingest_batch call
INGEST_METERS, INGEST_SECONDS = 4, 300
#: stream shape: staged as STREAM_FILES same-sized files whatever the
#: core count, drained FILES_PER_TRIGGER files per micro-batch
STREAM_METERS, STREAM_SECONDS, STREAM_FILES, FILES_PER_TRIGGER = 4, 60, 16, 8
#: flagship layout: meters × days, said buckets; the read asks for two
#: meters over six hours of the second day
FLAGSHIP_METERS, FLAGSHIP_DAYS, FLAGSHIP_BUCKETS = 4, 2, 4
FLAGSHIP_HOURS = 6

#: the catalog queries of the mix: five of the 17 headline queries (two
#: of the engine's meter rollups, a TPC-H aggregate, one each of the
#: vector and token families), then three of the four scale paths named
#: as the next optimisation targets. The other twelve headline queries
#: and ``text_unigram_lm_train_vocab`` are left out to keep a run short.
HEADLINE = [
    "meter_rollup_minute",
    "meter_daily_report",
    "q01_pricing_summary",
    "ann_bruteforce_cosine_topk",
    "text_token_top50",
]
SCALE_PATHS = [
    "graph_hits_nation_trade",
    "agg_heavy_hitters_two_pass",
    "text_duplicated_span_fraction",
]
FLAGSHIP = "flagship_read_meter_time_range"
QUERY_MIX = HEADLINE + SCALE_PATHS + [FLAGSHIP]


@dataclass(frozen=True)
class Params:
    """Inputs drawn from the workload seed."""

    seed: int
    start_said: int
    t0_epoch: int

    @classmethod
    def from_seed(cls, seed: int) -> "Params":
        rng = random.Random(seed)
        day = T0_EPOCH + rng.randrange(5 * 365) * 86400
        # hour-aligned and inside one day, so every seed yields the same
        # number of minute, hour and day rows
        span_h = -(-max(INGEST_SECONDS, STREAM_SECONDS) // 3600)
        return cls(
            seed=seed,
            start_said=1000 + rng.randrange(90000),
            t0_epoch=day + rng.randrange(24 - span_h + 1) * 3600,
        )

    @property
    def day_start(self) -> int:
        return self.t0_epoch - self.t0_epoch % 86400


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, or
    the maximum when there are too few samples for one."""
    xs = sorted(values)
    n = len(xs)
    if n >= 11:
        k = n - 11
        return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}
    return {"value": xs[-1] if xs else 0.0, "percentile": "max", "n": n}


def parquet_footprint(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def signatures(frames: dict) -> dict[str, tuple[int, int]]:
    """Order-insensitive (row count, summed row hash) of each frame of
    ``frames`` (name -> (frame, key columns)), in one Spark job."""
    parts = [
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash(*[F.col(c).cast("long") if c == "joules" else F.col(c) for c in cols]).cast("long")).alias("h"),
        ).withColumn("t", F.lit(name))
        for name, (df, cols) in frames.items()
    ]
    rows = functools.reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["t"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}


def expected_rows(meters: int, t0: int, seconds: int) -> dict[str, int]:
    """Rows per ingest table for ``meters`` meters over [t0, t0+seconds)."""
    last = t0 + seconds - 1
    buckets = {g: last // s - t0 // s + 1 for g, s in (("minute", 60), ("hour", 3600), ("day", 86400))}
    rows = {"meter_samples": meters * seconds, "meter_samples_second": meters * seconds}
    rows.update({f"meter_samples_{g}": meters * b for g, b in buckets.items()})
    return rows


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process
    descended from it (the Spark JVM and its Python workers), counting
    descendants that have exited through their parents. Time the host
    took from this machine (steal) is not counted, so on a shared host
    this moves much less from run to run than wall-clock time."""
    children: dict[int, list[int]] = {}
    times: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        times[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += times.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


COLD, WARMUP, WINDOW = "cold", "warmup", "window"


def closed_loop(seconds: float, warmup: int, min_window: int = 1):
    """(index, phase) of each operation of a closed loop with one client:
    the next operation starts only after the previous one returned.
    Operation 0 is the cold one, then ``warmup`` operations whose times
    are not reported, then operations for ``seconds`` (at least
    ``min_window``)."""
    yield 0, COLD
    for i in range(1, warmup + 1):
        yield i, WARMUP
    t_end = time.perf_counter() + seconds
    for n in itertools.count():
        if n >= min_window and time.perf_counter() >= t_end:
            return
        yield warmup + 1 + n, WINDOW


class RunTrace:
    """Bookkeeping of one run's traced operations. The cold operation is
    always traced; window operations of ``ingest`` and ``stream``
    alternate traced and untraced (``wants``), and the ratio of their
    latencies is the tracing overhead."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.warm_windows: list[tuple[float, float]] = []
        self.build_windows: list[tuple[float, float]] = []
        self.cold_actions: list[dict] = []
        self.actions: list[dict] = []
        self.gc_s = 0.0
        self.n_warm = 0  # traced window unit operations
        self._lat: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
        self._gc0 = 0.0

    def wants(self, phase: str, k: int) -> bool:
        return self.tracer is not None and (phase == COLD or (phase == WINDOW and k % 2 == 0))

    def begin(self, traced: bool) -> None:
        if traced:
            self._gc0 = self.tracer.gc_seconds()
            self.tracer.active = True

    def stop(self) -> None:
        if self.tracer is not None:
            self.tracer.active = False

    def end(self, traced, phase, key, w0, w1, seconds, n_ops: int = 1) -> None:
        self.stop()
        if phase == WINDOW:
            self._lat[traced].setdefault(key, []).append(seconds)
        if not traced:
            return
        actions = self.tracer.take_actions()
        if phase == COLD:
            self.cold_actions += actions
        else:
            self.actions += actions
            self.warm_windows.append((w0, w1))
            self.gc_s += self.tracer.gc_seconds() - self._gc0
            self.n_warm += n_ops

    def overhead_frac(self) -> float:
        traced, untraced = self._lat[True], self._lat[False]
        ratios = [
            statistics.median(t) / statistics.median(untraced[k]) for k, t in traced.items() if untraced.get(k)
        ]
        return statistics.median(ratios) - 1.0 if ratios else 0.0

    def layers(self) -> dict:
        """Catalyst phases and GC time per traced window operation, and
        the Catalyst phases summed over the cold operation."""
        n = max(self.n_warm, 1)
        out = {"exec.gc_s": self.gc_s / n, "catalyst.actions": len(self.actions) / n}
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] = sum(a[f"{phase}_s"] for a in self.actions) / n
            out[f"catalyst.{phase}_cold_s"] = sum(a[f"{phase}_s"] for a in self.cold_actions)
        return out


@dataclass
class Result:
    """What a workload's measurement hands back to the runner."""

    trace: RunTrace
    ops: list[float] = field(default_factory=list)  # window unit-operation latencies (s)
    ops_cpu: list[float] = field(default_factory=list)  # CPU seconds per window unit operation
    passes: list[float] = field(default_factory=list)  # window full-unit latencies (s)
    passes_cpu: list[float] = field(default_factory=list)  # their CPU seconds
    warmup: list[float] = field(default_factory=list)  # warm-up latencies, not reported as metrics
    cold_s: float = 0.0
    cold_cpu_s: float = 0.0
    throughput_per_s: float = 0.0
    throughput_per_cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # the workload's own metric names
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced runs)

    def attempt(self, what: str, fn, *args):
        """Run one operation or check, counting it; a failure is counted
        and recorded, never raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - boundary: count and go on
            self._fail(f"{what}: {type(exc).__name__}: {exc}")
            return None

    def check(self, what: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self._fail(f"check {what} failed: {why}")

    def _fail(self, message: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(message[:400])

    def record(self, phase: str, seconds: float, cpu_s: float) -> None:
        if phase == COLD:
            self.cold_s, self.cold_cpu_s = seconds, cpu_s
        elif phase == WARMUP:
            self.warmup.append(seconds)
        else:
            self.passes.append(seconds)
            self.passes_cpu.append(cpu_s)


class Workload:
    name = ""
    #: set-ups per run; setup_s is their median
    setup_reps = 3

    def stage(self, spark, work: str, p: Params):
        """Build the workload's inputs under ``work`` (part of set-up)."""
        return None

    def measure(self, spark, staged, p: Params, seconds: float, work: str, tracer) -> Result:
        raise NotImplementedError


class Ingest(Workload):
    """Write-only: the raw-array write and the rollup chain."""

    name = "ingest"
    setup_reps = 5  # its set-up is short, so its median needs more samples
    samples = INGEST_METERS * INGEST_SECONDS * SAMPLE_RATE
    warmup = 2

    def measure(self, spark, staged, p, seconds, work, tracer):
        res = Result(RunTrace(tracer))
        tr = res.trace
        want = expected_rows(INGEST_METERS, p.t0_epoch, INGEST_SECONDS)
        golden = INGEST_METERS * INGEST_SECONDS * JOULES_PER_SECOND
        footprints: list[tuple[int, int]] = []

        def call(i: int, phase: str) -> None:
            out = tempfile.mkdtemp(prefix="ingest_", dir=work)
            traced = tr.wants(phase, i)
            try:
                report: dict[str, int] = {}
                tr.begin(traced)
                w0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s()
                ingest_batch(
                    spark, out, num_meters=INGEST_METERS, start_said=p.start_said,
                    t0_epoch=p.t0_epoch, seconds=INGEST_SECONDS, report=report,
                )
                s, w1, cpu = time.perf_counter() - t0, time.time(), tree_cpu_s() - c0
                tr.end(traced, phase, "call", w0, w1, s)
                res.record(phase, s, cpu)
                res.check("ingest.row_counts", report == want, f"{report} != {want}")
                if phase != WINDOW:
                    paths = {t: os.path.join(out, t) for t in TABLES[1:]}
                    totals = {r["t"]: r["j"] for r in _joules_totals(spark, paths).collect()}
                    res.check("ingest.joules_totals", set(totals.values()) == {golden}, f"{totals} vs {golden}")
                    footprints.append(parquet_footprint(out))
            finally:
                tr.stop()
                shutil.rmtree(out, ignore_errors=True)

        for i, phase in closed_loop(seconds, self.warmup):
            res.attempt("ingest_batch", call, i, phase)
        res.ops, res.ops_cpu = list(res.passes), list(res.passes_cpu)
        if not res.ops or not footprints:
            return res
        p50 = statistics.median(res.ops)
        res.throughput_per_s = self.samples / p50
        res.throughput_per_cpu_s = self.samples / statistics.median(res.ops_cpu)
        stored = statistics.median(b for b, _ in footprints) / self.samples
        res.detail = {
            "ingest_samples_per_s": {"value": self.samples / p50, "unit": "samples/s", "n": len(res.ops)},
            "ingest_call_p50_s": {"value": p50, "unit": "s", "n": len(res.ops)},
            "ingest_call_tail_s": {**tail(res.ops), "unit": "s"},
            "ingest_first_call_s": {"value": res.cold_s, "unit": "s", "n": 1},
            "stored_bytes_per_sample": {"value": stored, "unit": "B/sample", "n": len(footprints)},
            "shape": {"meters": INGEST_METERS, "seconds": INGEST_SECONDS, "samples_per_call": self.samples},
        }
        return res


def _joules_totals(spark, paths: dict[str, str]):
    """One row (t, j) per table: the table's total joules."""
    df = None
    for t, path in paths.items():
        d = spark.read.parquet(path).agg(F.sum("joules").cast("long").alias("j")).withColumn("t", F.lit(t))
        df = d if df is None else df.unionByName(d)
    return df


class Stream(Workload):
    """Exactly-once streaming: many small micro-batches, so per-batch
    fixed costs (commit marker, grain merges, version GC, listings,
    trigger planning) dominate."""

    name = "stream"
    samples = STREAM_METERS * STREAM_SECONDS * SAMPLE_RATE
    warmup = 0

    def stage(self, spark, work, p):
        stage = os.path.join(work, "stream_stage")
        transmissions(
            spark, STREAM_METERS, p.start_said, p.t0_epoch, STREAM_SECONDS, slices=STREAM_FILES
        ).write.mode("overwrite").parquet(stage)
        return stage

    def measure(self, spark, stage, p, seconds, work, tracer):
        res = Result(RunTrace(tracer))
        tr = res.trace
        batches: list[dict] = []  # durationMs and rows of every window micro-batch
        sigs: list[dict] = []
        batch_fn_s: list[float] = []
        out_files: list[int] = []

        def drain(i: int, phase: str) -> None:
            out = tempfile.mkdtemp(prefix="stream_", dir=work)
            traced = tr.wants(phase, i)
            try:
                paths = {t: os.path.join(out, t) for t in TABLES}
                commits = os.path.join(out, "_commits")
                fn = streaming_ingest_batch_fn(paths, commits)
                if traced and phase == WINDOW:

                    def fn(batch, batch_id, _inner=fn):  # noqa: F811 - timed wrapper
                        t0 = time.perf_counter()
                        _inner(batch, batch_id)
                        batch_fn_s.append(time.perf_counter() - t0)

                tr.begin(traced)
                w0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s()
                q = (
                    spark.readStream.schema(METER_SAMPLES)
                    .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
                    .parquet(stage)
                    .writeStream.foreachBatch(fn)
                    .option("checkpointLocation", os.path.join(out, "_checkpoint"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                s, w1, cpu = time.perf_counter() - t0, time.time(), tree_cpu_s() - c0
                progress = [pr for pr in q.recentProgress if pr.numInputRows > 0]
                tr.end(traced, phase, "drain", w0, w1, s, n_ops=len(progress))
                res.record(phase, s, cpu)
                rows = read_stream_table(spark, paths, "meter_samples", commits).count()
                res.check("stream.raw_rows", rows == STREAM_METERS * STREAM_SECONDS, f"{rows} rows committed")
                if phase == WINDOW:
                    for pr in progress:
                        batches.append({**pr.durationMs, "rows": STREAM_METERS * STREAM_SECONDS / len(progress)})
                    res.ops.extend(pr.durationMs["triggerExecution"] / 1e3 for pr in progress)
                    res.ops_cpu.append(cpu / len(progress))
                    if traced:
                        out_files.append(parquet_footprint(out)[1])
                else:
                    sigs.append(
                        signatures(
                            {
                                t: (
                                    read_stream_table(spark, paths, t, commits),
                                    ["said", "datetime"] if t == "meter_samples" else ["said", "datetime", "joules"],
                                )
                                for t in TABLES
                            }
                        )
                    )
            finally:
                tr.stop()
                shutil.rmtree(out, ignore_errors=True)

        # at least three window drains: a traced run needs a traced and an
        # untraced one to read the tracing overhead, and the first window
        # drain is the least warm, so every run should average the same
        # number of them
        for i, phase in closed_loop(seconds, self.warmup, 3):
            res.attempt("stream_drain", drain, i, phase)
        if sigs:
            dual = res.attempt("stream.ingest_dual", self._dual, spark, p, work)
            for k, sig in enumerate(sigs):
                res.check(f"stream.equals_ingest_dual[{k}]", sig == dual, f"{sig} != {dual}")
        if not res.passes or not res.ops:
            return res
        drain_p50 = statistics.median(res.passes)
        p50 = statistics.median(res.ops)
        res.throughput_per_s = self.samples * len(res.passes) / sum(res.passes)
        res.throughput_per_cpu_s = self.samples * len(res.passes) / sum(res.passes_cpu)
        res.detail = {
            "stream_samples_per_s": {"value": res.throughput_per_s, "unit": "samples/s", "n": len(res.passes)},
            "stream_drain_p50_s": {"value": drain_p50, "unit": "s", "n": len(res.passes)},
            "stream_batch_p50_s": {"value": p50, "unit": "s", "n": len(res.ops)},
            "stream_batch_tail_s": {**tail(res.ops), "unit": "s"},
            "stream_first_drain_s": {"value": res.cold_s, "unit": "s", "n": 1},
            "shape": {
                "meters": STREAM_METERS,
                "seconds": STREAM_SECONDS,
                "stage_files": STREAM_FILES,
                "files_per_trigger": FILES_PER_TRIGGER,
                "samples_per_drain": self.samples,
            },
        }
        if tracer:

            def med(key: str) -> float:
                return statistics.median(b.get(key, 0) for b in batches) / 1e3

            res.layers.update(
                {
                    "stream.batch_fn_s": statistics.median(batch_fn_s) if batch_fn_s else 0.0,
                    "stream.add_batch_s": med("addBatch"),
                    "stream.trigger_overhead_s": statistics.median(
                        b["triggerExecution"] - b.get("addBatch", 0) for b in batches
                    ) / 1e3,
                    "stream.wal_commit_s": med("walCommit"),
                    "stream.query_planning_s": med("queryPlanning"),
                    "stream.latest_offset_s": med("latestOffset"),
                    "stream.batches": len(batches) / len(res.passes),
                    "stream.rows_per_batch": statistics.median(b["rows"] for b in batches),
                    "stream.output_files": statistics.median(out_files) if out_files else 0,
                }
            )
        return res

    def _dual(self, spark, p, work: str) -> dict:
        """Signatures of the tables batch ingest writes for the same shape
        (its raw table as the generator's keys, since ``write_raw=False``)."""
        out = tempfile.mkdtemp(prefix="dual_", dir=work)
        try:
            ingest_batch(
                spark, out, num_meters=STREAM_METERS, start_said=p.start_said,
                t0_epoch=p.t0_epoch, seconds=STREAM_SECONDS, write_raw=False,
            )
            frames = {t: (spark.read.parquet(os.path.join(out, t)), ["said", "datetime", "joules"]) for t in TABLES[1:]}
            ids = transmissions(spark, STREAM_METERS, p.start_said, p.t0_epoch, STREAM_SECONDS, with_watts=False)
            frames["meter_samples"] = (ids, ["said", "datetime"])
            return signatures(frames)
        finally:
            shutil.rmtree(out, ignore_errors=True)


@dataclass
class Collected:
    """Rows a query returned, with its column names: what the parity
    gate reads from a frame, without executing it again."""

    rows: list
    columns: list[str]

    def collect(self) -> list:
        return self.rows


class Queries(Workload):
    """Read-only: plan build, Catalyst and execution of a fixed mix.

    A cold pass, whose results are then compared with the oracles
    (untimed), then warm passes for the window, stopping between
    queries once every query has run warm."""

    name = "queries"

    def stage(self, spark, work, p):
        corpus_dir = corpus.write(os.path.join(work, "corpus"), p.seed)
        lay = os.path.join(work, "flagship_layout")
        pkg_layout.write_time_partitioned(
            meter_samples_second(spark, FLAGSHIP_METERS, p.start_said, p.day_start, FLAGSHIP_DAYS * 86400),
            lay,
            said_buckets=FLAGSHIP_BUCKETS,
        )
        # JVM and parquet-footer warmup on the corpus, as the headline does
        REGISTRY["q06_forecast_revenue"].fn(spark, corpus_dir).write.format("noop").mode("overwrite").save()
        return corpus_dir, lay

    @staticmethod
    def flagship(spark, lay: str, p: Params):
        t0 = p.day_start + 86400
        return pkg_layout.read_meter_time_range(
            spark,
            lay,
            t0,
            t0 + FLAGSHIP_HOURS * 3600,
            meters=[p.start_said, p.start_said + 3],
            said_buckets=FLAGSHIP_BUCKETS,
        )

    def build(self, spark, staged, p, name: str):
        corpus_dir, lay = staged
        if name == FLAGSHIP:
            return self.flagship(spark, lay, p)
        return REGISTRY[name].fn(spark, corpus_dir)

    def measure(self, spark, staged, p, seconds, work, tracer):
        res = Result(RunTrace(tracer))
        tr = res.trace
        rng = random.Random(p.seed)
        build: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        execs: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        cpus: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        cold_build: dict[str, float] = {}
        cold_cpu: dict[str, float] = {}
        cold_exec: dict[str, float] = {}
        cold_out: dict = {}  # what each cold execution returned, checked after the pass

        def run(name: str, phase: str, traced: bool) -> float:
            # the cold pass collects catalog results, so that they can be
            # checked without executing again; everything else is forced
            # with a noop write
            collect = phase == COLD and name != FLAGSHIP
            tr.begin(traced)
            try:
                w0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s()
                df = self.build(spark, staged, p, name)
                t1, wb = time.perf_counter(), time.time()
                if collect:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2, w1, cpu = time.perf_counter(), time.time(), tree_cpu_s() - c0
            finally:
                tr.stop()
                spark.catalog.clearCache()
            tr.end(traced, phase, name, w0, w1, t2 - t0)
            if traced:
                tr.build_windows.append((w0, wb))
            if phase == COLD:
                cold_build[name], cold_exec[name], cold_cpu[name] = t1 - t0, t2 - t1, cpu
                cold_out[name] = Collected(rows, df.columns) if collect else df
            else:
                build[name].append(t1 - t0)
                execs[name].append(t2 - t1)
                cpus[name].append(cpu)
            return t2 - t0

        order = list(QUERY_MIX)
        rng.shuffle(order)
        res.cold_s = sum(res.attempt(name, run, name, COLD, tr.wants(COLD, 0)) or 0.0 for name in order)
        res.cold_cpu_s = sum(cold_cpu.values())
        t_check = time.perf_counter()
        duck = duck_connection(staged[0])
        try:
            for name in order:
                if name in cold_out:
                    res.attempt(f"check {name}", self._check, spark, duck, cold_out.pop(name), name, res)
        finally:
            duck.close()
        t_window = time.perf_counter()
        check_s = t_window - t_check
        t_end = t_window + seconds
        # at least two warm passes: a query's figure is the median of its
        # warm executions, and one execution per query left the mix's CPU
        # total spreading by 0.17 over ten runs. A traced run, whose
        # per-layer figures are not bounded, needs one; it traces every
        # window execution, and its tracing overhead is read by
        # ``flagship_probe``
        min_passes = 1 if tracer else 2
        n_pass = 0
        while n_pass < min_passes or time.perf_counter() < t_end:
            n_pass += 1
            rng.shuffle(order)
            for name in order:
                if n_pass > min_passes and time.perf_counter() >= t_end:
                    break
                res.attempt(name, run, name, WINDOW, tracer is not None)
        window_s = time.perf_counter() - t_window
        n_exec = sum(len(v) for v in execs.values())
        if any(not execs[q] for q in QUERY_MIX):
            return res
        # per-query medians carry the latency figures, so that a partial
        # last pass does not over-weight the queries it reached
        per_query = {q: statistics.median(b + e for b, e in zip(build[q], execs[q])) for q in QUERY_MIX}
        warm_pass = sum(per_query.values())
        res.ops = list(per_query.values())
        res.passes = [warm_pass]
        res.throughput_per_s = len(QUERY_MIX) / warm_pass
        res.ops_cpu = [statistics.median(cpus[q]) for q in QUERY_MIX]
        res.throughput_per_cpu_s = len(QUERY_MIX) / sum(res.ops_cpu)
        res.detail = {
            "query_cold_pass_s": {"value": res.cold_s, "unit": "s", "n": len(QUERY_MIX)},
            "query_warm_pass_s": {"value": warm_pass, "unit": "s", "n": n_exec},
            "query_p50_s": {"value": statistics.median(res.ops), "unit": "s", "n": n_exec},
            "query_tail_s": {**tail([b + e for q in QUERY_MIX for b, e in zip(build[q], execs[q])]), "unit": "s"},
            "query_cpu_s": {q: {"cold": cold_cpu.get(q, 0.0), "warm": c} for q, c in zip(QUERY_MIX, res.ops_cpu)},
            "warm_passes": n_pass,
            "check_s": check_s,
            "window_s": window_s,
            "mix": QUERY_MIX,
        }
        if tracer:
            res.layers.update(
                {
                    "plans.build_cold_s": sum(cold_build.values()),
                    "plans.build_warm_s": sum(statistics.median(build[q]) for q in QUERY_MIX),
                    **{f"plans.{q}.build_s": statistics.median(build[q]) for q in QUERY_MIX},
                    **{f"exec.{q}.cold_s": cold_exec.get(q, 0.0) for q in QUERY_MIX},
                    **{f"exec.{q}.warm_s": statistics.median(execs[q]) for q in QUERY_MIX},
                }
            )
        return res

    def _check(self, spark, duck, df, name, res: Result) -> None:
        """The cold pass's result of query ``name`` against its DuckDB
        oracle with the repository's parity gate (row count, column
        names, order-insensitive values); the flagship read (its cold
        frame, executed again) against the rows the layout holds."""
        try:
            if name == FLAGSHIP:
                row = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("said").alias("meters"),
                    F.min("joules").alias("lo"),
                    F.max("joules").alias("hi"),
                ).first()
                want = (2 * FLAGSHIP_HOURS * 3600, 2, JOULES_PER_SECOND, JOULES_PER_SECOND)
                res.check(name, tuple(row) == want, f"{tuple(row)} != {want}")
            else:
                problems = compare(df, duck, REGISTRY[name].oracle)
                res.check(name, not problems, "; ".join(problems))
        finally:
            spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (Ingest(), Stream(), Queries())}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def write_probes(spark, p: Params, work: str, tracer) -> dict:
    """The write-side layers called on their own, three times each
    (median), at the ingest shape: ``ingest_batch`` (with spans around
    its raw write and its sink writes), the raw write, the second-table
    write and the rollup chain."""
    tracer.wrap(pkg_ingest, "write_time_partitioned", "ingest.raw_write_in_call_s")
    tracer.wrap(pkg_io.ParquetSink, "write", "ingest.sink_write_s")
    calls, stored, raw, second, chain = [], [], [], [], []
    footprint = (0, 0)
    for _ in range(3):
        d = tempfile.mkdtemp(prefix="probe_", dir=work)
        try:
            tracer.active = True
            try:
                calls.append(
                    _timed(
                        lambda: ingest_batch(
                            spark, os.path.join(d, "ingest"), num_meters=INGEST_METERS,
                            start_said=p.start_said, t0_epoch=p.t0_epoch, seconds=INGEST_SECONDS,
                        )
                    )
                )
            finally:
                tracer.active = False
            stored.append(parquet_footprint(os.path.join(d, "ingest"))[0] / Ingest.samples)
            raw_dir = os.path.join(d, "raw")
            gen = transmissions(spark, INGEST_METERS, p.start_said, p.t0_epoch, INGEST_SECONDS)
            raw.append(_timed(lambda: pkg_layout.write_time_partitioned(gen, raw_dir, clustered=True)))
            footprint = parquet_footprint(raw_dir)
            sink = pkg_io.ParquetSink(d)
            sec = meter_samples_second(spark, INGEST_METERS, p.start_said, p.t0_epoch, INGEST_SECONDS)
            second.append(_timed(lambda: sink.write(sec, "meter_samples_second")))

            def run_chain() -> None:
                finer = sink.read(spark, "meter_samples_second")
                for grain in pkg_rollups.CHAIN:
                    sink.write(pkg_rollups.rollup_from_second(finer, grain), f"meter_samples_{grain}")
                    finer = sink.read(spark, f"meter_samples_{grain}")

            chain.append(_timed(run_chain))
        finally:
            shutil.rmtree(d, ignore_errors=True)
    call_s = statistics.median(calls)
    return {
        "ingest.call_s": call_s,
        "ingest.raw_write_in_call_s": sum(tracer.spans["ingest.raw_write_in_call_s"]) / len(calls),
        "ingest.sink_write_s": sum(tracer.spans["ingest.sink_write_s"]) / len(calls),
        "ingest.stored_bytes_per_sample": statistics.median(stored),
        "ingest.overlap_ratio": (statistics.median(raw) + statistics.median(second) + statistics.median(chain))
        / call_s,
        "sources.raw_write_s": statistics.median(raw),
        "sources.raw_bytes": footprint[0],
        "sources.raw_files": footprint[1],
        "rollups.second_write_s": statistics.median(second),
        "rollups.chain_s": statistics.median(chain),
    }


def flagship_probe(spark, p: Params, layout: str, tracer) -> dict:
    """The flagship read over ``layout`` on its own, after one untimed
    read five times untraced and five times traced, alternating: the
    median untraced read, the tracing overhead (median traced ÷ median
    untraced − 1), and the partitions and files its scan read."""
    Queries.flagship(spark, layout, p).write.format("noop").mode("overwrite").save()
    times: dict[bool, list[float]] = {False: [], True: []}
    for k in range(10):
        traced = k % 2 == 1
        df = Queries.flagship(spark, layout, p)
        tracer.active = traced
        try:
            times[traced].append(_timed(lambda: df.write.format("noop").mode("overwrite").save()))
        finally:
            tracer.active = False
        tracer.take_actions()
    df = Queries.flagship(spark, layout, p)
    df.collect()
    scans: list[dict] = []
    _scan_metrics(df._jdf.queryExecution().executedPlan(), scans)
    scan = scans[0] if scans else {}
    untraced = statistics.median(times[False])
    return {
        "sources.flagship_read_s": untraced,
        "sources.flagship_partitions_read": scan.get("numPartitions", 0),
        "sources.flagship_files_read": scan.get("numFiles", 0),
        "trace.overhead_frac": statistics.median(times[True]) / untraced - 1.0,
    }


def _scan_metrics(node, out: list) -> None:
    """Per-scan SQL metric values of an executed plan tree."""
    if "Scan" in node.nodeName():
        m = node.metrics()
        keys = m.keys().iterator()
        d = {}
        while keys.hasNext():
            k = keys.next()
            d[k] = m.apply(k).value()
        out.append(d)
    for i in range(node.children().size()):
        _scan_metrics(node.children().apply(i), out)
