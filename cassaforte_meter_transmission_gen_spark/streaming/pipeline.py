"""Structured Streaming path — the reference's actual runtime shape.

The reference is an unbounded 1 Hz producer (core.clj:173-176) whose
minute/hour/day COUNTER tables are incrementally-updated running sums
(core.clj:122-153). The Spark-native equivalent (SURVEY §2.8):

- T1 ingestion cadence → a streaming source; for production a ``rate``
  source paced at ``rowsPerSecond = num_meters`` (or Kafka/files); for
  deterministic tests a bounded file stream over staged transmissions.
- T3 tumbling rollups → ``groupBy(window(datetime, grain), said).sum``;
  the state store holds the running sums — exactly the COUNTER
  semantics, but with exactly-once delivery instead of the reference's
  fire-and-forget (T5; we keep Spark's stronger guarantee).
- T2 event time == generation time; the reference admits no late data,
  so the default watermark is 0 seconds, configurable for real sources.

Correctness argument: streaming aggregation ≡ batch aggregation over
the same inputs (sum is associative/commutative); asserted by
tests/test_streaming.py and by the catalog entry
``streaming_rollup_minute`` sharing its oracle with the batch rollup.

Exactly-once commit protocol
----------------------------
Every ``foreachBatch`` sink here that keeps its state in plain parquet
commits through one protocol — the poor-man's transaction log that a
table format like Delta/Iceberg replaces wholesale. (The bucketed and
LSM sinks commit through ``sources.snapshot.SnapshotTable.commit``
instead; :func:`snapshot_view_batch_fn` runs this protocol keyed on the
applied source snapshot id rather than the micro-batch id.)

- **Layout.** A sink owns its table dirs plus one ``commits_dir``. A
  versioned table holds one full copy of its state per applied batch,
  ``<table>/v=<batch_id>/``. The five-table ingest's raw and second
  tables instead append ``<table>/batch=<batch_id>/`` dirs, which
  :func:`compact_stream_tables` folds into ``_compacted/upto=<U>``
  segments.
- **Marker.** The commit point of batch ``b`` is the empty file
  ``<commits_dir>/<b>``, published by ``os.replace`` of ``<b>.tmp``
  (:func:`_commit`) only after every table of the batch is durable.
- **High-watermark rule.** foreachBatch delivers batches in order and
  the marker is each batch's last step, so every id ≤ the newest
  marker (the high watermark, :func:`_high_watermark`) is committed. A
  batch with ``batch_id <= hw`` is a replay and is skipped. Any other
  batch merges onto ``v=<hw>`` and OVERWRITES its own ``v=<batch_id>``
  (or ``batch=<batch_id>``) dir, so a batch replayed after a crash
  before its marker rebuilds from the same committed base: it can
  never be applied twice (:func:`versioned_merge_fn`).
- **Retention.** After each commit only the newest ``retain_versions``
  (default 4) ``v=`` dirs and markers are kept. The newest marker
  alone carries the committed set, so pruning never widens a read. A
  reader that resolved version N keeps a valid directory for
  ``retain_versions - 1`` further commits (≈ that many trigger
  intervals) — size it above the longest expected read.
- **Readers.** Only ``v=<hw>`` (:func:`_read_committed`) and, for the
  raw/second tables, the newest segment plus the batch dirs in
  (segment upto, hw] (:func:`read_stream_table`) may be read. Anything
  newer is an uncommitted in-flight batch, so a crash mid-batch is
  invisible to every reader.

The ``run_bounded_*`` harnesses drive a sink over a staged, bounded
stream to completion (:func:`_drain`) and read back the committed
result.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import METER_SAMPLES_SECOND
from ..sources.meter_generator import meter_samples_second


def _slug(*parts) -> str:
    """Deterministic memory-sink name suffix: Python's ``hash()`` is
    salted per process, so sink/view names built from it would differ
    across runs — md5 of the repr is stable everywhere."""
    return hashlib.md5(repr(parts).encode()).hexdigest()[:10]


def _committed_batches(commits_dir: str) -> list[int]:
    if not os.path.isdir(commits_dir):
        return []
    return sorted(int(f) for f in os.listdir(commits_dir) if f.isdigit())


def _high_watermark(commits_dir: str) -> int | None:
    """Latest committed batch id — every id ≤ it is committed (the
    module docstring's high-watermark rule)."""
    committed = _committed_batches(commits_dir)
    return committed[-1] if committed else None


def _commit(
    commits_dir: str,
    batch_id: int,
    version_dirs: list[str],
    retain_versions: int = 4,
) -> None:
    """Publish the marker of ``batch_id`` (the commit point), then prune
    each of ``version_dirs`` and the markers to the newest
    ``retain_versions`` — the module docstring's marker and retention
    rules."""
    marker = os.path.join(commits_dir, str(batch_id))
    tmp = marker + ".tmp"
    open(tmp, "w").close()
    os.replace(tmp, marker)  # commit point
    for d in version_dirs:
        vers = sorted(int(v[2:]) for v in os.listdir(d) if v.startswith("v="))
        for v in vers[:-retain_versions]:
            shutil.rmtree(os.path.join(d, f"v={v}"), ignore_errors=True)
    for b in _committed_batches(commits_dir)[:-retain_versions]:
        try:
            os.remove(os.path.join(commits_dir, str(b)))
        except OSError:
            pass


def _read_committed(
    spark: SparkSession, table_dir: str, commits_dir: str, schema: str
) -> DataFrame:
    """The committed version ``v=<hw>`` of a versioned table, read with
    its pinned ``schema`` (no inference job); an empty frame of that
    schema before the first commit."""
    hw = _high_watermark(commits_dir)
    if hw is None:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(f"{table_dir}/v={hw}")


def versioned_merge_fn(
    table_dir: str, commits_dir: str, schema: str, delta, merge
):
    """foreachBatch body of a one-table versioned sink under the module's
    commit protocol: skip a replayed batch, else write
    ``merge(committed state, delta(batch))`` as ``v=<batch_id>`` and
    commit. ``delta(batch) -> DataFrame`` is the batch's contribution;
    ``merge(prev, delta) -> DataFrame`` folds it into the committed
    state (an empty frame of ``schema`` on the first batch)."""
    os.makedirs(commits_dir, exist_ok=True)

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = _high_watermark(commits_dir)
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        prev = _read_committed(batch.sparkSession, table_dir, commits_dir, schema)
        merge(prev, delta(batch)).write.mode("overwrite").parquet(
            f"{table_dir}/v={batch_id}"
        )
        _commit(commits_dir, batch_id, [table_dir])

    return fn


def _drain(writer) -> None:
    """Run a bounded streaming query to completion: ``writer`` (a
    configured ``DataStreamWriter``) gets a temp checkpoint and the
    ``availableNow`` trigger, which processes every staged input file
    and stops."""
    with tempfile.TemporaryDirectory(prefix="stream_ckpt_") as ckpt:
        writer.option("checkpointLocation", ckpt).trigger(
            availableNow=True
        ).start().awaitTermination()


def _sum_merge(keys: tuple[str, ...], cols: tuple[str, ...]):
    """``merge`` for additive state: union, then re-sum ``cols`` (as
    long) per ``keys``."""
    return lambda prev, delta: (
        prev.unionByName(delta)
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
    )


def _stage_ordered_files(prefix: str, frames: list[DataFrame]) -> str:
    """Stage each frame as ONE parquet file, named and mtime-pinned in
    list order, so a ``maxFilesPerTrigger`` file stream over the
    returned dir replays them in that order."""
    stage = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    for i, df in enumerate(frames):
        tmp = os.path.join(stage, f"part{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)
    return in_dir


def rate_transmission_stream(
    spark: SparkSession, num_meters: int, start_said: int
) -> DataFrame:
    """Production-shaped unbounded source: ``rate`` paced at one row
    per meter per second (the reference's cadence), mapped to
    (said, datetime). The raw watts array attaches exactly as in the
    batch generator (same expression)."""
    from ..sources.meter_generator import sawtooth_watts

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", num_meters)
        .load()
    )
    return rate.select(
        (F.lit(start_said) + F.col("value") % num_meters).cast("int").alias("said"),
        F.date_trunc("second", F.col("timestamp")).alias("datetime"),
    ).withColumn("watts", sawtooth_watts())


def windowed_rollup(stream: DataFrame, grain_duration: str) -> DataFrame:
    """Streaming rollup: tumbling-window stateful sum — the COUNTER
    table as a continuously-maintained aggregation (update/complete
    output mode both valid; state keyed (said, window))."""
    return (
        stream.withWatermark("datetime", "0 seconds")
        .groupBy(F.window("datetime", grain_duration).alias("w"), "said")
        .agg(F.sum("joules").cast("long").alias("joules"))
        .select("said", F.col("w.start").alias("datetime"), "joules")
    )


def dedup_transmission_stream(
    stream: DataFrame, lateness: str = "10 minutes"
) -> DataFrame:
    """Streaming duplicate-transmission suppression — the ingest-side
    guard the reference's at-least-once producer needs (core.clj:80-85:
    failed async writes are only logged, so a client-side retry policy
    re-sends whole transmissions; the keyspace's PRIMARY KEY makes the
    re-insert idempotent in Cassandra, and THIS operator is the Spark
    dual of that idempotence for an append-only sink).

    ``dropDuplicatesWithinWatermark`` on the natural key
    (said, datetime): state holds one entry per key only until the
    watermark passes ``lateness`` beyond it, so the dedup store is
    bounded by rate × lateness — NOT stream history, which is what
    makes it deployable on an unbounded 1 Hz feed (a plain
    ``dropDuplicates`` would grow state forever). State shards by key
    across executors like any stateful op.

    Correctness contract (asserted streaming≡batch in
    tests/test_streaming.py): emits exactly one row per key for any
    duplicate arriving within ``lateness`` of the original. Duplicates
    straddling a longer gap are a delivery-policy decision: the
    retained row count is then ≥ the batch-distinct count, never <.
    """
    return stream.withWatermark("datetime", lateness).dropDuplicatesWithinWatermark(
        ["said", "datetime"]
    )


def run_bounded_dedup_ingest(
    spark: SparkSession,
    num_meters: int = 2,
    seconds: int = 600,
    dup_fraction: int = 3,
) -> DataFrame:
    """Drive the dedup guard over a bounded stream where every
    ``dup_fraction``-th second-grain row is staged TWICE (a retry
    storm): returns the deduplicated rows (append mode — each key emits
    once, when first seen)."""
    stream, stage = bounded_second_stream(spark, num_meters, seconds)
    try:
        meter_samples_second(spark, num_meters=num_meters, seconds=seconds).filter(
            F.pmod(F.unix_timestamp("datetime"), F.lit(dup_fraction)) == 0
        ).write.mode("append").parquet(stage)
        name = f"stream_dedup_{_slug(num_meters, seconds, dup_fraction)}"
        _drain(
            dedup_transmission_stream(stream, lateness="10 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


def bounded_second_stream(
    spark: SparkSession,
    num_meters: int = 4,
    seconds: int = 7200,
    stage_dir: str | None = None,
) -> tuple[DataFrame, str]:
    """Deterministic bounded stream for tests/oracle checks: stage the
    batch-generated second-grain table as parquet, then re-read it as a
    file stream (schema-pinned). Returns (stream, staged_path)."""
    stage = stage_dir or tempfile.mkdtemp(prefix="meter_stream_")
    if stage_dir is None:  # only reclaim dirs this function created
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
    meter_samples_second(spark, num_meters=num_meters, seconds=seconds).write.mode(
        "overwrite"
    ).parquet(stage)
    stream = (
        spark.readStream.schema(METER_SAMPLES_SECOND)
        .option("maxFilesPerTrigger", 8)
        .parquet(stage)
    )
    return stream, stage


def run_bounded_rollup(
    spark: SparkSession,
    grain_duration: str = "1 minute",
    num_meters: int = 4,
    seconds: int = 7200,
) -> DataFrame:
    """Run the streaming rollup over the bounded stream to completion
    (availableNow trigger, complete output mode into a memory sink) and
    return the final result table — byte-equal to the batch rollup."""
    stream, _ = bounded_second_stream(spark, num_meters, seconds)
    name = f"stream_rollup_{_slug(grain_duration, num_meters, seconds)}"
    _drain(
        windowed_rollup(stream, grain_duration)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name)


def cumulative_energy_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY §2.9 surface): a per-meter
    lifetime energy counter — the reference's COUNTER concept taken to
    its limit (one ever-growing sum per said, not per window), which
    windowed aggregation can't express. ``applyInPandasWithState``
    keeps one long per meter in the state store; each micro-batch
    emits that meter's checkpoint (latest event time, cumulative
    joules). Arrow-batched; state size is O(#meters) — trivially
    shardable across 1000 executors since the key is the shard."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_fn(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        latest = None
        for pdf in pdf_iter:
            total += int(pdf["joules"].sum())
            mx = pdf["datetime"].max()
            latest = mx if latest is None else max(latest, mx)
        state.update((total,))
        yield pd.DataFrame(
            {"said": [key[0]], "datetime": [latest], "cumulative_joules": [total]}
        )

    return stream.groupBy("said").applyInPandasWithState(
        update_fn,
        outputStructType="said int, datetime timestamp, cumulative_joules long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: raw/second tables: per-batch append dirs (grains are versioned instead)
BATCH_DIR_TABLES = ("meter_samples", "meter_samples_second")

#: rollup-grain table schema — pinned so the per-batch read of the
#: previous committed version skips parquet schema inference (one less
#: driver job per grain per micro-batch; fixed costs dominate streaming
#: throughput at bench scale, see bench.py's batch-size curve)
GRAIN_SCHEMA = "said int, datetime timestamp, joules long"


def _compacted_state(table_path: str) -> tuple[int, str | None]:
    """(upto, dir) of the newest compacted segment under
    ``<table>/_compacted`` — rows of batches 0..upto folded into one
    parquet dir. (-1, None) when nothing is compacted yet."""

    root = os.path.join(table_path, "_compacted")
    if not os.path.isdir(root):
        return -1, None
    best_upto, best = -1, None
    for d in os.listdir(root):
        if d.startswith("upto="):
            upto = int(d[5:])
            if upto > best_upto:
                best_upto, best = upto, os.path.join(root, d)
    return best_upto, best


def streaming_ingest_batch_fn(
    paths: dict[str, str],
    commits_dir: str,
    retain_versions: int = 4,
    crash_before_commit=None,
    compact_every: int | None = None,
    compact_keep_batches: int = 8,
):
    """foreachBatch body for the five-table write fan-out (K1-K5,
    core.clj:100-153) maintained continuously: per micro-batch, write
    the raw arrays and the per-second energy rows, then COUNTER-merge
    each rollup grain (operators.rollups.counter_merge) into its table.

    Delivery is EXACTLY-ONCE, strictly stronger than the reference's
    fire-and-forget (T5), by the module docstring's commit protocol:
    raw + second rows land in ``<table>/batch=<id>/`` and each grain
    as a new version ``<table>/v=<id>/`` = counter_merge(committed
    version, this batch's increment); the marker lands only after all
    five tables are durable, and grain versions and markers beyond the
    newest ``retain_versions`` are pruned after it.

    ``crash_before_commit(batch_id) -> bool`` is a fault-injection seam
    for the restart tests: when it returns True the fn raises AFTER all
    five tables are written but BEFORE the marker lands — the worst
    crash point, which replay must make invisible.

    ``compact_every=N`` folds old raw/second batch dirs into one
    compacted segment every N commits (:func:`compact_stream_tables`) —
    bounding small-file growth on the unbounded runner.

    Scale notes: the raw write is shuffle-free (narrow write of the
    arriving partitions); each grain merge shuffles only (said, bucket)
    keys of the increment plus the existing rollup table — tiny
    relative to raw, and the rewrite cost is bounded by the rollup
    table size, not the stream history. Each grain increment derives
    directly from the just-written second table (sum is associative,
    so second→hour ≡ second→minute→hour), so raw rows are folded
    exactly once and the three merges are independent jobs."""
    from ..functions.energy import joules_over_second
    from ..operators.rollups import CHAIN, counter_merge, rollup_from_second

    os.makedirs(commits_dir, exist_ok=True)
    grain_paths = {g: paths[f"meter_samples_{g}"] for g in CHAIN}

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = _high_watermark(commits_dir)
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied — exactly-once
        spark = batch.sparkSession

        def _write_raw() -> None:
            batch.write.mode("overwrite").parquet(
                f"{paths['meter_samples']}/batch={batch_id}"
            )

        def _write_second() -> DataFrame:
            second = batch.select(
                "said",
                "datetime",
                joules_over_second(F.col("watts")).alias("joules"),
            )
            second.write.mode("overwrite").parquet(
                f"{paths['meter_samples_second']}/batch={batch_id}"
            )
            # Derive the grain increments from the JUST-WRITTEN second
            # table, not from the in-memory lineage: each grain write is
            # its own Spark action, and the lineage re-executed the raw
            # batch scan plus the 15k-element joules fold once PER GRAIN
            # (4× the stream's dominant CPU per micro-batch — r14,
            # guide §1.2 "don't recompute what you already wrote").
            # The read-back is the tiny (said, datetime, joules) table;
            # the rows are identical by construction (lossless write),
            # and it is durable before the commit marker either way.
            # joules is INT at the second grain (joules_over_second);
            # the rollup sum widens it to long per GRAIN_SCHEMA
            return spark.read.schema(
                "said int, datetime timestamp, joules int"
            ).parquet(f"{paths['meter_samples_second']}/batch={batch_id}")

        def _merge_grain(
            inc_second: DataFrame, prev: DataFrame | None, grain: str
        ) -> None:
            # each grain directly from the written second table — sum is
            # associative, so second→hour equals second→minute→hour, and
            # deriving the three grains independently makes them
            # independent Spark jobs (guide §2.6) instead of a chained
            # sequence of three driver-blocking actions per micro-batch
            inc = rollup_from_second(inc_second, grain)
            merged = inc if prev is None else counter_merge(prev, inc)
            (
                merged.sortWithinPartitions("said", "datetime")
                .write.mode("overwrite")
                .parquet(f"{grain_paths[grain]}/v={batch_id}")
            )

        # The raw batch-dir write, the second write, and the three
        # grain-version merges write disjoint tables — independent Spark
        # jobs, submitted from driver threads (guide §2.6) so the small
        # grain merges back-fill executors idled by the raw write's task
        # tail instead of queueing behind each other as four sequential
        # driver-blocking actions. Only the real data dependency is
        # sequential: grain merges start after the second table (their
        # input) is durable. The commit marker still lands only after
        # ALL five tables are durable (the .result() joins below).
        # Resolving each committed grain version (a file listing under
        # v=<hw>) depends only on the high watermark, so it runs in the
        # pool too, overlapping the second-table write (r15).
        with ThreadPoolExecutor(max_workers=4) as pool:
            fr = pool.submit(_write_raw)
            prev_futs = (
                {
                    g: pool.submit(
                        _read_committed, spark, p, commits_dir, GRAIN_SCHEMA
                    )
                    for g, p in grain_paths.items()
                }
                if hw is not None
                else {}
            )
            inc_second = _write_second()
            for f in [
                pool.submit(
                    _merge_grain,
                    inc_second,
                    prev_futs[g].result() if g in prev_futs else None,
                    g,
                )
                for g in CHAIN
            ]:
                f.result()
            fr.result()
        if crash_before_commit is not None and crash_before_commit(batch_id):
            raise RuntimeError(
                f"injected crash before commit of batch {batch_id}"
            )
        _commit(commits_dir, batch_id, list(grain_paths.values()), retain_versions)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_stream_tables(
                spark, paths, commits_dir, keep_batches=compact_keep_batches
            )

    return fn


def compact_stream_tables(
    spark: SparkSession,
    paths: dict[str, str],
    commits_dir: str,
    keep_batches: int = 8,
) -> None:
    """Fold old raw/second ``batch=<id>`` dirs into one compacted
    segment per table — the maintenance job that bounds metadata and
    small-file growth on the unbounded 1 Hz runner (one dir per second
    otherwise). Idempotent and crash-safe:

    - the new segment ``_compacted/upto=<U>`` (U = high-watermark −
      ``keep_batches``; recent dirs stay out for reader-race safety) is
      written to a dotted temp dir and ``os.replace``d into place —
      readers never see a partial segment, and a crash mid-compaction
      leaves the previous segment authoritative;
    - batch dirs are DELETED only up to the *previous* segment's upto,
      so a reader that resolved the previous segment keeps every dir it
      may touch for one full compaction cycle (same bounded-race window
      as grain-version retention);
    - the previous segment itself is kept (current + previous), older
      ones removed.

    Readers (:func:`read_stream_table`) take the newest segment plus
    batch dirs in (upto, high-watermark] — exclusive bounds, so rows
    are never double-read. At real scale this runs as a scheduled
    maintenance job; the runner inlines it every ``compact_every``
    commits."""

    hw = _high_watermark(commits_dir)
    if hw is None:
        return
    new_upto = hw - keep_batches
    for table in BATCH_DIR_TABLES:
        path = paths[table]
        prev_upto, prev_dir = _compacted_state(path)
        fold = [
            d
            for d in os.listdir(path)
            if d.startswith("batch=") and prev_upto < int(d[6:]) <= new_upto
        ]
        if not fold or new_upto <= prev_upto:
            continue
        parts = [os.path.join(path, d) for d in sorted(fold)]
        if prev_dir is not None:
            parts.append(prev_dir)
        root = os.path.join(path, "_compacted")
        os.makedirs(root, exist_ok=True)
        # GC stale temp dirs from cycles that crashed between the temp
        # write and the publish: later cycles compute a different
        # new_upto, so the orphaned name would never be reused and the
        # upto=-only segment GC below never sees it. Readers ignore
        # dotted dirs, so this sweep is race-free.
        for d in os.listdir(root):
            if d.startswith(".tmp_upto="):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        tmp = os.path.join(root, f".tmp_upto={new_upto}")
        final = os.path.join(root, f"upto={new_upto}")
        # coalesce to a handful of files: the segment is bounded by the
        # compaction period, not stream history, so small counts hold
        spark.read.parquet(*parts).coalesce(4).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)  # publish point
        # delete only what BOTH retained segments cover
        for d in os.listdir(path):
            if d.startswith("batch=") and int(d[6:]) <= prev_upto:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        for d in os.listdir(root):
            if d.startswith("upto=") and int(d[5:]) not in (new_upto, prev_upto):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def read_stream_table(
    spark: SparkSession, paths: dict[str, str], table: str, commits_dir: str
) -> DataFrame:
    """Read one table maintained by :func:`streaming_ingest_batch_fn`,
    resolving the exactly-once layout for EVERY table: raw/second
    tables are the newest compacted segment (if any) plus the batch
    directories in (segment upto, high-watermark] — an uncommitted or
    partially-written in-flight ``batch=`` dir is never touched, so a
    crash mid-batch is invisible to readers here exactly as it is for
    grains; grain tables resolve to the latest COMMITTED version."""

    path = paths[table]
    hw = _high_watermark(commits_dir)
    if hw is None:
        raise FileNotFoundError(f"no committed version of {table} yet")
    if table in BATCH_DIR_TABLES:
        upto, seg = _compacted_state(path)
        parts = [
            os.path.join(path, d)
            for d in sorted(os.listdir(path))
            if d.startswith("batch=") and upto < int(d[6:]) <= hw
        ]
        if seg is not None:
            parts.append(seg)
        return spark.read.parquet(*parts)
    return spark.read.parquet(f"{path}/v={hw}")


def run_bounded_streaming_ingest(
    spark: SparkSession,
    out_dir: str,
    num_meters: int = 2,
    seconds: int = 600,
    max_files_per_trigger: int = 8,
    stage_files: int | None = None,
    stage_dir: str | None = None,
) -> tuple[dict[str, str], str]:
    """Drive the foreachBatch five-table ingest over a bounded raw
    transmission stream to completion; returns ({table: path},
    commits_dir) — read results through :func:`read_stream_table`. The
    test asserts every table equals its batch-ingest dual.

    ``max_files_per_trigger`` sets the micro-batch size — the
    throughput lever: per-batch fixed costs (trigger planning, five
    table writes, three version merges, the commit marker) are constant
    per batch, so samples/s scales with rows-per-batch until the batch
    no longer fits the cluster. bench.py measures this curve.
    ``stage_files`` stages the input as that many same-shaped files
    (finer contiguous meter-time slices) so the curve can extend past
    the default 32-file stage — one file keeps meaning the same number
    of meter-seconds. ``stage_dir`` points at a caller-owned staging
    directory reused ACROSS calls: generation is skipped when it
    already holds a committed write (``_SUCCESS``), so bench.py's
    trigger-size sweep pays the big-stream generation once, not once
    per curve point (the caller deletes it)."""
    from ..operators.ingest import TABLES
    from ..schemas import METER_SAMPLES
    from ..sources.meter_generator import transmissions

    if stage_dir is not None:
        stage = stage_dir
    else:
        stage = tempfile.mkdtemp(prefix="raw_stream_")
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
    try:
        if not os.path.exists(os.path.join(stage, "_SUCCESS")):
            transmissions(
                spark,
                num_meters=num_meters,
                seconds=seconds,
                slices=stage_files,
            ).write.mode("overwrite").parquet(stage)
        stream = (
            spark.readStream.schema(METER_SAMPLES)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(stage)
        )
        paths = {t: f"{out_dir}/{t}" for t in TABLES}
        commits_dir = f"{out_dir}/_commits"
        _drain(
            stream.writeStream.foreachBatch(
                streaming_ingest_batch_fn(paths, commits_dir)
            )
        )
        return paths, commits_dir
    finally:
        # the staged raw input is only read by the (now finished)
        # stream — multi-GB at bench sizes, so never leave it behind
        shutil.rmtree(stage, ignore_errors=True)


def session_rollup(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming gap-based sessionization (SURVEY §2.8 T6): the native
    ``session_window`` stateful aggregation — sessions merge in the
    state store as events arrive, keyed (user_id, session). The batch
    dual (lag + running-sum flags) is ``events_sessionization_30m``;
    the equivalence test maps ``session_window.start`` ==
    ``session_start``. State is sharded by user_id, so 1000 executors
    partition the session store with no cross-key coordination."""
    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # decimal sum → order-independent across micro-batches,
            # exactly equal to the batch oracle's decimal sum
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def bounded_events_stream(
    spark: SparkSession,
    sf_dir: str,
    stage_dir: str | None = None,
    columns: tuple[str, ...] = ("user_id", "ts", "event_id", "value"),
) -> DataFrame:
    """Deterministic bounded event stream: stage the corpus ``events``
    table (projected to ``columns``) and re-read it as a schema-pinned
    file stream."""
    from ..schemas import load_table

    stage = stage_dir or tempfile.mkdtemp(prefix="events_stream_")
    if stage_dir is None:  # only reclaim dirs this function created
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(*columns)
    ev.write.mode("overwrite").parquet(stage)
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(stage)
    )


def run_bounded_sessions(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Run the streaming sessionization to completion and return the
    final session table (complete mode: every closed + open session)."""
    stream = bounded_events_stream(spark, sf_dir)
    name = f"stream_sessions_{_slug(sf_dir, gap)}"
    _drain(
        session_rollup(stream, gap)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name)


def run_bounded_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the remaining join member of the
    Structured Streaming surface next to the stream-stream interval
    join: live events joined to a batch-built per-user profile table
    (the feature/profile-store lookup every production event pipeline
    runs), then aggregated per event type.

    Mechanics at scale: the static side is a plain DataFrame — no
    watermark, no join state store; Spark broadcasts it per micro-batch
    (explicit hint here; at profile-table sizes beyond broadcast the
    hint drops and it becomes a shuffled join re-planned per batch).
    The per-user average is computed once on the static side, so the
    stream-side work per event is one hash probe + one running agg.
    Driven to completion over a bounded file stream (complete mode,
    availableNow) and gated against the batch join+agg oracle — decimal
    sums make the result independent of micro-batch arrival order."""
    from ..schemas import load_table

    stream = bounded_events_stream(
        spark, sf_dir, columns=("user_id", "ts", "event_id", "event_type", "value")
    )
    profile = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("user_n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("user_total"),
    )
    # NOTE: aggregate the joined profile columns themselves, never a
    # re-quantized quotient — CAST(computed_double AS DECIMAL) rounds
    # HALF_UP in Spark vs round-nearest in DuckDB and computed values
    # land on midpoints; profile values are already on the decimal grid
    # so the round-trip through double is exact.
    agg = (
        stream.join(F.broadcast(profile), "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("user_total").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_user_total"),
            F.sum("user_n").cast("long").alias("sum_user_n"),
        )
    )
    name = f"stream_enrich_{_slug(sf_dir)}"
    _drain(agg.writeStream.format("memory").queryName(name).outputMode("complete"))
    return spark.table(name)


def run_bounded_interval_join(
    spark: SparkSession, sf_dir: str, window: str = "30 minutes"
) -> DataFrame:
    """Stream-stream event-time interval join (the last big Structured
    Streaming surface next to windowed aggs, sessions, and custom
    state): purchases joined to the same user's clicks from the
    preceding ``window``, both sides unbounded streams.

    Mechanics at scale: both sides are watermarked, so the state store
    retains only rows inside the interval bound — a click can be
    evicted once the watermark passes click_ts + window, giving O(users
    × window-rate) state regardless of stream length; the join shuffles
    both streams on user_id, so 1000 executors shard the state by user.
    Driven here over bounded file streams to completion (append mode —
    the only mode stream-stream joins support) so the result is gated
    against the batch interval-join oracle. The replay watermark delay
    is set beyond the corpus's full time span: the staged files replay
    in arbitrary event-time order, so any tighter bound would (per
    append-mode semantics, correctly!) drop "late" rows and make the
    result depend on file order — a live deployment tunes the delay to
    its real lateness, which also bounds the state store."""
    events = bounded_events_stream(
        spark, sf_dir, columns=("user_id", "ts", "event_id", "event_type", "value")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "3650 days")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "3650 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND "
            f"click_ts >= purchase_ts - interval {window} AND "
            "click_ts <= purchase_ts"
        ),
    ).select("user_id", "purchase_id", "purchase_ts", "purchase_value", "click_id", "click_ts")
    name = f"stream_ssjoin_{_slug(sf_dir, window)}"
    _drain(joined.writeStream.format("memory").queryName(name).outputMode("append"))
    return spark.table(name)


def run_late_data_rollup(
    spark: SparkSession,
    batches: list[list[tuple[int, int, int]]],
    delay: str = "30 seconds",
    grain: str = "1 minute",
) -> DataFrame:
    """Watermarked tumbling rollup over explicitly-ordered micro-batches
    (SURVEY §2.8 T2: the engine's configurable-lateness extension — the
    reference admits no late data by construction).

    Each batch is rows (said, epoch_offset_sec, joules) staged as one
    parquet file; ``maxFilesPerTrigger=1`` + strictly increasing mtimes
    force Spark to replay them in order, so the watermark advances
    between batches exactly as in a live stream. Append output mode:
    a window is emitted only once its end < watermark, and rows arriving
    behind the watermark are dropped — the assertion surface for the
    late-data tests."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.meter_generator import T0_EPOCH

    stage = tempfile.mkdtemp(prefix="late_stream_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    schema = pa.schema(
        [
            pa.field("said", pa.int32(), nullable=False),
            pa.field("datetime", pa.timestamp("us"), nullable=False),
            pa.field("joules", pa.int32(), nullable=False),
        ]
    )
    for i, rows in enumerate(batches):
        tbl = pa.Table.from_pydict(
            {
                "said": [r[0] for r in rows],
                "datetime": [(T0_EPOCH + r[1]) * 1_000_000 for r in rows],
                "joules": [r[2] for r in rows],
            },
            schema=schema,
        )
        path = f"{stage}/batch_{i:03d}.parquet"
        pq.write_table(tbl, path)
        time.sleep(0.01)

    stream = (
        spark.readStream.schema(METER_SAMPLES_SECOND)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stage)
    )
    rollup = (
        stream.withWatermark("datetime", delay)
        .groupBy(F.window("datetime", grain).alias("w"), "said")
        .agg(F.sum("joules").cast("long").alias("joules"))
        .select("said", F.col("w.start").alias("datetime"), "joules")
    )
    name = f"stream_late_{_slug(stage, delay, grain)}"
    _drain(rollup.writeStream.format("memory").queryName(name).outputMode("append"))
    return spark.table(name)


def run_bounded_cumulative(
    spark: SparkSession, num_meters: int = 4, seconds: int = 3600
) -> DataFrame:
    """Drive the stateful counter over the bounded stream and return
    every emitted checkpoint row (memory sink, update mode)."""
    stream, _ = bounded_second_stream(spark, num_meters, seconds)
    name = f"stream_cumulative_{_slug(num_meters, seconds)}"
    _drain(
        cumulative_energy_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
    )
    return spark.table(name)


#: pinned state schemas of the versioned sketch/count sinks below —
#: shared by each sink's committed-state read and its harness's final
#: read (no schema-inference job per micro-batch)
_SKETCH_SCHEMA = "day timestamp, user_sketch binary"
_CMS_SCHEMA = "day date, r int, c int, cnt long"
_QSK_SCHEMA = "day timestamp, h bigint, v bigint"
_KMV_SCHEMA = "day timestamp, h bigint"
_PSI_SCHEMA = "bucket bigint, c_ref bigint, c_cur bigint"
_AUC_SCHEMA = "score bigint, cnt bigint, pos bigint"
_MG_SCHEMA = "user_id long, cnt long"
_NB_SCHEMAS = {
    "wl": "lang string, tok string, cnt bigint",
    "dl": "lang string, d_l bigint",
}
_CHUNK_LEDGER_SCHEMA = (
    "chunk_hash string, first_doc_id bigint, n_occurrences bigint"
)


def sketch_rollup_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining a SKETCH rollup table: per
    micro-batch, the day-grain HLL sketches of the arriving events are
    ``hll_union``-merged with the last COMMITTED version into a new
    version of the day-sketch table — the counter-merge protocol of
    :func:`streaming_ingest_batch_fn` applied to mergeable Datasketches
    state instead of additive counters, maintaining a metric plain
    counters cannot (distinct users). Exactly-once by the module's
    commit protocol (:func:`versioned_merge_fn`)."""
    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _SKETCH_SCHEMA,
        lambda b: b.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
            F.hll_sketch_agg("user_id").alias("user_sketch")
        ),
        lambda prev, sk: prev.unionByName(sk)
        .groupBy("day")
        .agg(F.hll_union_agg("user_sketch").alias("user_sketch")),
    )


def scd2_merge(
    prev: DataFrame,
    batch: DataFrame,
    key_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """The SCD2 micro-batch merge core, shared by the full-rewrite
    fixture (:func:`scd2_batch_fn`) and the bucket-partitioned
    maintenance (:func:`scd2_bucketed_batch_fn`): given the committed
    history IN SCOPE (the whole table, or just the touched buckets) and
    the batch's events, return the complete NEW content of that scope.
    Each affected key's committed OPEN version is carried into the
    version-chaining window together with the batch's events
    (operators.cdc.versions_from_stream), so updates close the open
    version and open a new one, deletes close without opening, and
    closed history rows are never edited.

    At-least-once guard: batch rows whose seq is <= the carried open
    version's valid_from_seq are dropped before chaining — under
    at-least-once redelivery a NEW batch_id can replay an
    already-applied seq, which would tie with the carried row in the
    chaining window and make lead() over the tie nondeterministic
    (zero-width or duplicate versions). The drop makes redelivered
    events idempotent no-ops."""
    from ..operators.cdc import versions_from_stream

    keys = batch.select(key_col).distinct()
    untouched = prev.join(F.broadcast(keys), key_col, "left_anti")
    affected = prev.join(F.broadcast(keys), key_col, "left_semi")
    closed = affected.filter(~F.col("is_current"))
    carried = affected.filter(F.col("is_current")).select(
        *payload_cols,
        F.col("valid_from_seq").alias("seq"),
        F.lit("u").alias("op"),
    )
    carried_from = affected.filter(F.col("is_current")).select(
        key_col, F.col("valid_from_seq").alias("_carried_from")
    )
    fresh = (
        batch.select(*payload_cols, "seq", "op")
        .join(F.broadcast(carried_from), key_col, "left")
        .filter(
            F.col("_carried_from").isNull()
            | (F.col("seq") > F.col("_carried_from"))
        )
        .drop("_carried_from")
    )
    stream = carried.unionByName(fresh)
    new_versions = versions_from_stream(stream, payload_cols, [key_col])
    return untouched.unionByName(closed).unionByName(new_versions)


def scd2_batch_fn(
    table_dir: str,
    commits_dir: str,
    history_schema: str,
    key_col: str,
    payload_cols: list[str],
):
    """foreachBatch body maintaining an SCD2 HISTORY table from an
    ordered change stream — :func:`scd2_merge` applied per micro-batch
    under the module's commit protocol (:func:`versioned_merge_fn`):
    updates close the committed open version and open a new one,
    deletes close without opening, and closed history rows are never
    edited. Precondition (same as apply_changelog): the feed delivers
    each key's events in STRICTLY increasing seq order across batches
    — the log-offset guarantee of a real changelog source; an
    already-applied seq redelivered under a NEW batch id is dropped by
    :func:`scd2_merge`'s at-least-once guard.

    Scale: this fixture rewrites the full history per version (like
    the grain tables); the production shape is
    :func:`scd2_bucketed_batch_fn`, where the history partitions by
    key bucket on a snapshot-manifest table and only affected buckets
    rewrite — untouched buckets carry forward by manifest reference,
    the same economics as the IVF layout."""
    return versioned_merge_fn(
        table_dir,
        commits_dir,
        history_schema,
        lambda b: b,
        lambda prev, b: scd2_merge(prev, b, key_col, payload_cols),
    )


_SCD2_FEED_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
    " seq int, op string"
)
_SCD2_HISTORY_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
    " valid_from_seq int, valid_to_seq int, is_current boolean"
)


def _stage_scd2_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders changelog as a file stream of THREE strictly-ordered
    micro-batches: snapshot seeds at seq 0, then the seq-1 tranche
    (updates and tombstones), then seq-2 (:func:`_stage_ordered_files`).
    Shared by the full-rewrite and bucket-partitioned SCD2 runners."""
    from ..plans.tpch_queries import _orders_snapshot_and_changelog

    snap, changes = _orders_snapshot_and_changelog(spark, sf_dir)
    feed0 = snap.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("seq"),
        F.lit("u").alias("op"),
    )
    in_dir = _stage_ordered_files(
        "scd2_stream_in_",
        [
            feed0,
            changes.filter(F.col("seq") == 1),
            changes.filter(F.col("seq") == 2),
        ],
    )
    return (
        spark.readStream.schema(_SCD2_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def run_bounded_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`scd2_batch_fn` over the staged orders changelog
    (:func:`_stage_scd2_feed`) and return the final committed history.
    Gated against the SAME oracle as the batch cdc_scd2_orders_history:
    the streaming maintenance must converge to exactly the history a
    one-shot batch build produces, which is the streaming≡batch
    argument used for every rollup in this module."""
    stream = _stage_scd2_feed(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="scd2_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "orders_history")
    commits = os.path.join(out, "_commits")
    _drain(
        stream.writeStream.foreachBatch(
            scd2_batch_fn(
                table_dir,
                commits,
                _SCD2_HISTORY_SCHEMA,
                "o_orderkey",
                ["o_orderkey", "o_orderstatus", "o_totalprice"],
            )
        )
    )
    return _read_committed(spark, table_dir, commits, _SCD2_HISTORY_SCHEMA)


#: key-bucket count for the bucketed SCD2 fixture. At 100 TB this is
#: sized so one bucket's history fits an executor (e.g. 4096 buckets →
#: ~25 GB each); at test scale a small count still exercises the
#: touched/untouched split (the 3-tranche feed touches all buckets at
#: seq 0, then only %10∈{3,7} keys' buckets afterwards).
SCD2_N_BUCKETS = 8

_SCD2_BUCKETED_SCHEMA = "bucket int, " + _SCD2_HISTORY_SCHEMA


def scd2_bucketed_batch_fn(
    table,
    key_col: str,
    payload_cols: list[str],
):
    """foreachBatch body maintaining the SCD2 history on a BUCKETED
    snapshot-manifest table (sources.snapshot.SnapshotTable) — the
    production shape :func:`scd2_batch_fn`'s docstring prescribes: the
    history partitions by key hash bucket, each micro-batch reads and
    rewrites ONLY the buckets its keys hash into, and untouched buckets
    carry forward BY MANIFEST REFERENCE — their files are never opened,
    never rewritten (pinned byte-identical by
    tests/test_snapshot.py). Per-batch cost is O(touched-bucket
    history), not O(total history): the difference between rewriting a
    few hundred MB and a multi-TB table per micro-batch at 100 TB.

    Exactly-once composes with the snapshot chain: the micro-batch id
    travels as the manifest's ``batch_hw`` (SEPARATE from the snapshot
    id, so interleaved maintenance commits never desynchronize the
    replay guard), the atomic exclusive manifest create is the commit
    point, and a replayed/crashed batch re-reads the same parent
    manifest and overwrites its own orphaned data directory
    (SnapshotTable.commit's idempotence contract). The chaining core
    and the at-least-once seq guard are byte-for-byte
    :func:`scd2_merge` — shared with the full-rewrite fixture, so both
    gate against the identical batch oracle."""
    from ..sources.snapshot import bucket_of

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = table.batch_high_watermark()
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        spark = batch.sparkSession
        batch = batch.localCheckpoint()  # consumed twice: buckets + merge
        # touched bucket ids: bounded driver state (≤ n_buckets rows)
        touched = [
            r[0]
            for r in batch.select(
                bucket_of(key_col, table.n_buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        prev = table.read(spark, buckets=touched).drop("bucket")
        merged = scd2_merge(prev, batch, key_col, payload_cols)
        sid = 0 if table.latest() is None else table.latest() + 1
        table.commit(
            merged.withColumn("bucket", bucket_of(key_col, table.n_buckets)),
            sid,
            batch_hw=batch_id,
        )

    return fn


def run_bounded_scd2_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`scd2_bucketed_batch_fn` over the IDENTICAL staged
    changelog as :func:`run_bounded_scd2` and return the final
    committed history read from the snapshot manifest — gated by the
    same batch oracle, so full-rewrite, bucketed-partial-rewrite, and
    one-shot batch builds are all pinned to one truth."""
    from ..sources.snapshot import SnapshotTable

    stream = _stage_scd2_feed(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="scd2_bucketed_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table = SnapshotTable(
        os.path.join(out, "orders_history"),
        _SCD2_BUCKETED_SCHEMA,
        SCD2_N_BUCKETS,
    )
    _drain(
        stream.writeStream.foreachBatch(
            scd2_bucketed_batch_fn(
                table,
                "o_orderkey",
                ["o_orderkey", "o_orderstatus", "o_totalprice"],
            )
        )
    )
    return table.read(spark).drop("bucket")


def run_bounded_sketch_rollup(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Drive :func:`sketch_rollup_batch_fn` over a bounded stream of the
    ``events`` table (restaged as ``n_files`` parquet files, one file
    per micro-batch), then gate the maintained sketch table: weekly
    estimates from the FINAL committed version against exact weekly
    distincts recomputed from raw — the streaming dual of the batch
    ``sketch_rollup_distinct_users``. At 100 TB this is the insert-time
    pre-aggregation economics for distinct metrics: each event is
    folded into a fixed-size sketch once, any coarser window is a union
    of sketches — raw is never rescanned."""
    from ..schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    stage = tempfile.mkdtemp(prefix="sketch_stream_in_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    out = tempfile.mkdtemp(prefix="sketch_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    try:
        ev.repartition(n_files).write.mode("overwrite").parquet(f"{stage}/in")
        table_dir = f"{out}/day_sketches"
        commits = f"{out}/_commits"
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/in")
        )
        _drain(
            stream.writeStream.foreachBatch(
                sketch_rollup_batch_fn(table_dir, commits)
            )
        )
        stored = _read_committed(spark, table_dir, commits, _SKETCH_SCHEMA)
        weekly_est = stored.groupBy(
            F.date_trunc("week", "day").cast("date").alias("week")
        ).agg(
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
                "approx_users"
            )
        )
        weekly_exact = ev.groupBy(
            F.date_trunc("week", "ts").cast("date").alias("week")
        ).agg(F.count_distinct("user_id").alias("exact_users"))
        res = weekly_exact.join(weekly_est, "week").select(
            "week",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.lit(8) + F.lit(5 * 0.016) * F.col("exact_users")
            ).alias("within_bound"),
        )
        res.write.mode("overwrite").parquet(f"{out}/weekly")
        return spark.read.parquet(f"{out}/weekly")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def cms_rollup_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining a COUNT-MIN-SKETCH rollup table:
    per micro-batch, the day-grain CMS grids of the arriving events
    (operators.sketches.cms_build) merge cell-wise with the last
    COMMITTED version into a new version — the counter-merge protocol
    of :func:`streaming_ingest_batch_fn` applied to the frequency
    sketch. CMS counters are plain additive longs, so unlike the HLL
    dual (:func:`sketch_rollup_batch_fn`, whose estimate bytes are
    engine-specific) the maintained state is bit-reproducible: the
    final estimates equal the batch CMS query exactly, and the DuckDB
    oracle gates them by full value hash. Exactly-once by the module's
    commit protocol (:func:`versioned_merge_fn`)."""
    from ..operators.sketches import cms_build

    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _CMS_SCHEMA,
        lambda b: cms_build(
            b.withColumn("day", F.to_date("ts")), "user_id", group_cols=("day",)
        ),
        _sum_merge(("day", "r", "c"), ("cnt",)),
    )


def run_bounded_cms_rollup(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Drive :func:`cms_rollup_batch_fn` over a bounded stream of the
    ``events`` table (restaged as ``n_files`` files, one per
    micro-batch), then point-estimate the exact top-20 users from the
    FINAL committed grid — the streaming dual of the batch
    ``sketch_cms_heavy_hitters``, and (because CMS counters are
    additive integers under the portable hash) its BIT-EQUAL dual:
    both run against the identical full-value-hash DuckDB oracle. At
    100 TB: every event folds into a fixed 4×1024-per-day grid once;
    estimates never rescan raw."""
    from ..operators.sketches import cms_estimate, cms_merge
    from ..schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    stage = tempfile.mkdtemp(prefix="cms_stream_in_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    out = tempfile.mkdtemp(prefix="cms_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    try:
        ev.repartition(n_files).write.mode("overwrite").parquet(f"{stage}/in")
        table_dir = f"{out}/day_grids"
        commits = f"{out}/_commits"
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/in")
        )
        _drain(
            stream.writeStream.foreachBatch(cms_rollup_batch_fn(table_dir, commits))
        )
        grid = cms_merge(_read_committed(spark, table_dir, commits, _CMS_SCHEMA))
        top = (
            ev.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("exact_count"))
            .orderBy(F.desc("exact_count"), "user_id")
            .limit(20)
        )
        res = cms_estimate(grid, top, "user_id").select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("ge_exact"),
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
        res.write.mode("overwrite").parquet(f"{out}/estimates")
        return spark.read.parquet(f"{out}/estimates")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def cusum_stream(
    stream: DataFrame, k_micro: int, h_micro: int
) -> DataFrame:
    """Per-user one-sided CUSUM state over an IN-ORDER event stream
    (``applyInPandasWithState``) — the live dual of
    plans.events_queries.events_cusum_user_value_shift's batch fold.
    State per user: (s, mx, n, i, fa) = current statistic, peak,
    alarm count, events seen, first-alarm position — five int64s,
    sharded by user exactly like the cumulative-energy counter.

    The per-batch update is VECTORIZED via the reflection identity
    ``S_t = c_t − min(0, min_{j≤t} c_j)`` with ``c`` the drift walk
    offset by the carried state — one numpy cumsum + running min per
    group instead of a Python row loop, bit-equal to the Lindley
    recursion ``S_t = max(0, S_{t-1} + d_t)`` (all int64, no floats).
    Precondition: per-user event order across batches (the staged
    replay pins file order; a real feed uses log offsets — the SCD2
    contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_fn(key, pdf_iter, state: GroupState):
        s, mx, n, i, fa = state.get if state.exists else (0, 0, 0, 0, 0)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        d = pdf["v_micro"].to_numpy(dtype="int64") - k_micro
        if len(d):
            c = s + np.cumsum(d)
            floor = np.minimum(np.minimum.accumulate(c), 0)
            trail = c - floor  # S_t for every row of this batch
            alarms = trail > h_micro
            if fa == 0 and alarms.any():
                fa = i + int(np.argmax(alarms)) + 1
            n += int(alarms.sum())
            mx = max(mx, int(trail.max()))
            s = int(trail[-1])
            i += len(trail)
        state.update((s, mx, n, i, fa))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [i],
                "n_alarms": [n],
                "max_s": [mx],
                "first_alarm_rn": [fa],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=(
            "user_id bigint, n_events long, n_alarms long,"
            " max_s long, first_alarm_rn long"
        ),
        stateStructType="s long, mx long, n long, i long, fa long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_bounded_cusum(
    spark: SparkSession,
    sf_dir: str,
    k_micro: int,
    h_micro: int,
    n_slices: int = 8,
    files_per_trigger: int = 3,
) -> DataFrame:
    """Drive :func:`cusum_stream` over the events table staged as
    ``n_slices`` GLOBALLY time-ordered files (named and mtime-pinned in
    order, the run_bounded_scd2 staging) so per-user order holds across
    micro-batches, then return each user's FINAL state row (n_events is
    strictly increasing per user across emissions, so max-by picks the
    last). Gated against the identical recursive-CTE oracle as the
    batch fold — streaming≡batch, the module's standing argument."""
    from pyspark.sql import Window as W

    from ..schemas import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
        ).alias("v_micro"),
    )
    # fixture staging: one global sort of the (small) verification
    # corpus into contiguous time slices — a real deployment's feed is
    # already offset-ordered per key, so this sort is the REPLAY
    # harness, not the operator
    sliced = e.withColumn(
        "slice",
        F.ntile(n_slices).over(
            W.orderBy("ts", "event_id")
        ),
    )
    in_dir = _stage_ordered_files(
        "cusum_stream_in_",
        [
            sliced.filter(F.col("slice") == i).drop("slice")
            for i in range(1, n_slices + 1)
        ],
    )
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, v_micro bigint"
        )
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    name = f"stream_cusum_{k_micro}_{h_micro}"
    _drain(
        cusum_stream(stream, k_micro, h_micro)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
    )
    emitted = spark.table(name)
    final = emitted.groupBy("user_id").agg(
        F.max(
            F.struct("n_events", "n_alarms", "max_s", "first_alarm_rn")
        ).alias("r")
    )
    return final.select(
        "user_id",
        F.col("r.n_events").cast("int").alias("n_events"),
        F.col("r.n_alarms").cast("int").alias("n_alarms"),
        F.col("r.max_s").cast("long").alias("max_s"),
        F.expr("CAST(nullif(r.first_alarm_rn, 0L) AS INT)").alias(
            "first_alarm_rn"
        ),
    )


def quantile_sketch_rollup_batch_fn(
    table_dir: str, commits_dir: str, k: int = 512
):
    """foreachBatch body maintaining a PER-DAY quantile-sample sketch
    table — the counter-merge versioned protocol applied to the third
    mergeable sketch family (HLL distinct → CMS frequency → THIS for
    order statistics): per micro-batch, each day's k hash-smallest
    (h, v) rows from the arriving events are merged with the last
    COMMITTED day sketches by union + re-take-k — mergeability
    (operators.sketches.quantile_sample_sketch) guarantees the result
    equals the one-pass sketch of everything seen. Exactly-once by the
    module's commit protocol (:func:`versioned_merge_fn`). Sketch state
    is O(days × k) rows regardless of stream history."""
    from pyspark.sql import Window as W

    from ..operators.sketches import kmv_hash_expr

    wday = W.partitionBy("day").orderBy("h", "v")
    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _QSK_SCHEMA,
        lambda b: b.select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr(kmv_hash_expr("CAST(event_id AS STRING)")).alias("h"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            ).alias("v"),
        ),
        lambda prev, sk: prev.unionByName(sk)
        .withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= k)
        .drop("rn"),
    )


def run_bounded_quantile_rollup(
    spark: SparkSession, sf_dir: str, k: int = 512
) -> DataFrame:
    """Drive :func:`quantile_sketch_rollup_batch_fn` over the bounded
    event stream to completion, then estimate each day's median and
    p90 from the FINAL committed sketch table, with the exact per-day
    percentiles computed query-time beside them (the KMV exactness
    discipline). Gated against a DuckDB oracle drawing the identical
    per-day hash sample — streaming maintenance ≡ one-pass sketch, by
    mergeability."""
    from ..schemas import load_table

    out = tempfile.mkdtemp(prefix="qsk_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "day_sketches")
    commits = os.path.join(out, "_commits")
    stream = bounded_events_stream(spark, sf_dir)
    _drain(
        stream.writeStream.foreachBatch(
            quantile_sketch_rollup_batch_fn(table_dir, commits, k)
        )
    )
    sk = _read_committed(spark, table_dir, commits, _QSK_SCHEMA)
    est = sk.groupBy("day").agg(
        F.count("*").cast("int").alias("n_sample"),
        F.expr("percentile(v, 0.5)").alias("est_p50_micro"),
        F.expr("percentile(v, 0.9)").alias("est_p90_micro"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.expr(
                "percentile(CAST(CAST(value AS DECIMAL(18,6)) * 1000000"
                " AS BIGINT), 0.5)"
            ).alias("exact_p50_micro"),
            F.expr(
                "percentile(CAST(CAST(value AS DECIMAL(18,6)) * 1000000"
                " AS BIGINT), 0.9)"
            ).alias("exact_p90_micro"),
        )
    )
    return est.join(exact, "day")


def kmv_rollup_batch_fn(table_dir: str, commits_dir: str, k: int = 256):
    """foreachBatch body maintaining a PER-DAY KMV distinct sketch
    table — completing the streaming-maintained sketch family (HLL
    distinct / CMS frequency / quantile sample / THIS for md5-portable
    distinct counts whose estimator arithmetic is fully value-hash
    gated, unlike HLL's bound-pinned oracles): per micro-batch, each
    day's k smallest distinct user-day hashes from the arriving events
    merge with the last COMMITTED sketches by union + distinct +
    re-take-k. Exactly-once by the module's commit protocol
    (:func:`versioned_merge_fn`); state is O(days × k) int64s."""
    from pyspark.sql import Window as W

    from ..operators.sketches import kmv_hash_expr

    wday = W.partitionBy("day").orderBy("h")
    key = (
        "CONCAT(CAST(user_id AS STRING), ':',"
        " CAST(CAST(ts AS DATE) AS STRING))"
    )
    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _KMV_SCHEMA,
        lambda b: b.select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr(kmv_hash_expr(key)).alias("h"),
        ).distinct(),
        lambda prev, sk: prev.unionByName(sk)
        .distinct()
        .withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= k)
        .drop("rn"),
    )


def run_bounded_kmv_rollup(
    spark: SparkSession, sf_dir: str, k: int = 256
) -> DataFrame:
    """Drive :func:`kmv_rollup_batch_fn` over the bounded event stream
    to completion, then per day report the KMV distinct-user-day
    estimate from the FINAL committed sketch beside the exact distinct
    count (query-time, the KMV discipline). By mergeability the final
    sketch equals the one-pass per-day sketch, which is what the
    serial oracle draws."""
    from ..operators.sketches import kmv_estimate_col
    from ..schemas import load_table

    out = tempfile.mkdtemp(prefix="kmv_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "day_sketches")
    commits = os.path.join(out, "_commits")
    stream = bounded_events_stream(spark, sf_dir)
    _drain(
        stream.writeStream.foreachBatch(kmv_rollup_batch_fn(table_dir, commits, k))
    )
    sk = _read_committed(spark, table_dir, commits, _KMV_SCHEMA)
    est = sk.groupBy("day").agg(
        F.count("*").alias("n_sk"), F.max("h").alias("max_h")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count_distinct(
                F.expr(
                    "CONCAT(CAST(user_id AS STRING), ':',"
                    " CAST(CAST(ts AS DATE) AS STRING))"
                )
            )
            .cast("long")
            .alias("exact_user_days")
        )
    )
    return est.join(exact, "day").select(
        "day",
        F.col("n_sk").cast("int").alias("n_sketch"),
        kmv_estimate_col(F.col("n_sk"), F.col("max_h"), k=k).alias(
            "est_user_days"
        ),
        "exact_user_days",
    )


def psi_counts_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the PSI drift gate's 10-bucket
    (c_ref, c_cur) count table: per micro-batch the batch's
    conditional bucket counts (plans.analytics_queries.
    psi_bucket_counts — the SAME one-scan stage the batch query runs)
    merge ADDITIVELY with the last committed counts. Exactly-once by
    the module's commit protocol (:func:`versioned_merge_fn`); counts
    are additive int64s, so replayed batches must not double-count —
    the high-watermark guard is the correctness, not just an
    optimization. State: ≤ 10 rows."""
    from ..plans.analytics_queries import psi_bucket_counts

    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _PSI_SCHEMA,
        psi_bucket_counts,
        _sum_merge(("bucket",), ("c_ref", "c_cur")),
    )


def auc_scores_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the exact-AUC score table: per
    micro-batch the batch's score-level (cnt, pos) collapse
    (plans.events_queries.model_scores_by_score — the SAME stage the
    batch AUC/PR-AUC/KS queries run) merges ADDITIVELY with the last
    committed table. Exactly-once by the module's commit protocol
    (:func:`versioned_merge_fn`) — counts are additive int64s, so the
    high-watermark replay guard IS the correctness. State:
    distinct-score-sized (value-range bounded), never event-sized."""
    from ..plans.events_queries import model_scores_by_score

    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _AUC_SCHEMA,
        model_scores_by_score,
        _sum_merge(("score",), ("cnt", "pos")),
    )


def run_bounded_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`auc_scores_batch_fn` over the bounded event stream
    to completion, then compute the exact AUC from the FINAL committed
    score table via the identical tail the batch query uses
    (plans.events_queries.auc_from_by_score). The score table is
    additive and applied exactly-once, so the committed state EQUALS
    the batch collapse and the report is gated by the IDENTICAL
    oracle."""
    from ..plans.events_queries import auc_from_by_score

    out = tempfile.mkdtemp(prefix="auc_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "score_counts")
    commits = os.path.join(out, "_commits")
    stream = bounded_events_stream(
        spark, sf_dir, columns=("user_id", "ts", "event_type", "value")
    )
    _drain(
        stream.writeStream.foreachBatch(auc_scores_batch_fn(table_dir, commits))
    )
    return auc_from_by_score(
        _read_committed(spark, table_dir, commits, _AUC_SCHEMA)
    )


def run_bounded_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`psi_counts_batch_fn` over the bounded event stream
    to completion, then compute the PSI report from the FINAL
    committed count table via the identical post-counts tail the batch
    query uses (plans.analytics_queries.psi_from_counts). Counts are
    additive and applied exactly-once, so the committed table EQUALS
    the batch one-scan counts and the report is gated by the
    IDENTICAL oracle."""
    from ..plans.analytics_queries import psi_from_counts

    out = tempfile.mkdtemp(prefix="psi_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "bucket_counts")
    commits = os.path.join(out, "_commits")
    stream = bounded_events_stream(spark, sf_dir)
    _drain(
        stream.writeStream.foreachBatch(psi_counts_batch_fn(table_dir, commits))
    )
    return psi_from_counts(
        spark, _read_committed(spark, table_dir, commits, _PSI_SCHEMA)
    )


def mg_rollup_batch_fn(table_dir: str, commits_dir: str, k: int):
    """foreachBatch body for a streaming-maintained Misra–Gries heavy
    hitter summary over ``user_id`` — the live dual of
    operators.sketches.misra_gries_candidates, under the module's
    exactly-once commit protocol (:func:`versioned_merge_fn`).

    Per micro-batch: exact batch counts (one partial-agg groupBy) merge
    with the last COMMITTED summary, then the MG merge step — subtract
    the (k+1)-th largest merged count from everything, keep positive —
    caps the state at ≤ k rows. By the mergeable-summaries theorem
    (Agarwal et al., PODS'12) the maintained summary preserves the
    guarantee: any key with stream-to-date frequency > n/(k+1) is
    present. The subtraction threshold is a one-row broadcast
    (sort-desc/limit(k+1) over a ≤ k+distinct(batch) frame), so state
    never exceeds k rows no matter the stream length — the fixed-size
    property every streaming sketch here shares."""
    summed = _sum_merge(("user_id",), ("cnt",))

    def merge(prev: DataFrame, counts: DataFrame) -> DataFrame:
        counts = summed(prev, counts)
        # MG cap: subtract the (k+1)-th largest count (0 when ≤ k keys)
        kth = (
            counts.orderBy(F.desc("cnt"), "user_id")
            .limit(k + 1)
            .agg(
                F.when(F.count("*") > k, F.min("cnt"))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("sub")
            )
        )
        return (
            counts.crossJoin(F.broadcast(kth))
            .select("user_id", (F.col("cnt") - F.col("sub")).alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _MG_SCHEMA,
        lambda b: b.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt")),
        merge,
    )


def run_bounded_mg_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    inv_support: int = 200,
    n_files: int = 4,
) -> DataFrame:
    """Drive :func:`mg_rollup_batch_fn` over a bounded replay of
    ``events`` (one file per micro-batch), then EXACT-verify the final
    committed candidate summary with one batch pass — the streaming
    dual of ``agg_heavy_hitters_two_pass``, sharing its oracle shape:
    the output is the exact heavy-hitter set at support 1/inv_support,
    so the DuckDB gate pins it by full value hash even though the
    maintained state is an approximate summary. At 100 TB: each event
    folds into a ≤ inv_support-row summary once; the verify pass
    shuffles candidate keys only."""
    from ..schemas import load_table
    from ..schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    stage = tempfile.mkdtemp(prefix="mg_stream_in_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    out = tempfile.mkdtemp(prefix="mg_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    try:
        ev.repartition(n_files).write.mode("overwrite").parquet(f"{stage}/in")
        table_dir = f"{out}/mg_summary"
        commits = f"{out}/_commits"
        stream = (
            spark.readStream.schema("user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/in")
        )
        _drain(
            stream.writeStream.foreachBatch(
                mg_rollup_batch_fn(table_dir, commits, k=inv_support)
            )
        )
        candidates = _read_committed(
            spark, table_dir, commits, _MG_SCHEMA
        ).select("user_id")
        total = ev.agg(F.count("*").alias("total"))
        res = (
            ev.join(F.broadcast(candidates), "user_id")
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("exact_count"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("exact_count") * inv_support > F.col("total"))
            .select("user_id", "exact_count")
        )
        res.write.mode("overwrite").parquet(f"{out}/hitters")
        return spark.read.parquet(f"{out}/hitters")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def run_bounded_python_source_stream(
    spark: SparkSession,
    num_meters: int = 4,
    seconds: int = 3600,
    ticks_per_batch: int = 900,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Drive the Python DataSourceStreamReader
    (sources/meter_datasource.py) to completion: micro-batches of
    ``ticks_per_batch`` seconds × all meters append to a parquet sink
    under Spark's own checkpoint (source offsets + sink commit log =
    exactly-once), until the bounded feed's full row count has landed.
    Returns the minute rollup over the streamed rows — gated against
    the IDENTICAL oracle as the batch DataSource read
    (source_python_datasource_rollup): streaming ≡ batch for the
    pluggable source seam."""
    import time

    from ..sources.meter_datasource import register_meter_datasource

    register_meter_datasource(spark)
    out = tempfile.mkdtemp(prefix="pyds_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    sink = f"{out}/rows"
    stream = (
        spark.readStream.format("meter_samples_py")
        .option("num_meters", num_meters)
        .option("seconds", seconds)
        .option("ticks_per_batch", ticks_per_batch)
        .load()
    )
    with tempfile.TemporaryDirectory(prefix="pyds_ckpt_") as ckpt:
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        expected = num_meters * seconds
        deadline = time.time() + timeout_s
        n = 0  # keep the timeout report well-defined if the loop never runs
        try:
            while time.time() < deadline:
                try:
                    n = spark.read.schema(
                        "said int, epoch bigint, joules int"
                    ).parquet(sink).count()
                except Exception:  # sink dir not created yet
                    n = 0
                if n >= expected:
                    break
                time.sleep(0.5)
            else:
                raise TimeoutError(
                    f"bounded python-source stream incomplete after "
                    f"{timeout_s}s ({n}/{expected} rows)"
                )
        finally:
            q.stop()
            q.awaitTermination()
    rows = spark.read.schema("said int, epoch bigint, joules int").parquet(sink)
    return (
        rows.groupBy(
            "said",
            F.expr("CAST((epoch DIV 60) * 60 AS BIGINT)").alias("minute_epoch"),
        )
        .agg(
            F.sum("joules").cast("long").alias("joules_minute"),
            F.count("*").alias("n_seconds"),
        )
    )


def bounded_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    columns: tuple[str, ...] = ("doc_id", "text", "lang"),
) -> DataFrame:
    """Deterministic bounded DOCUMENT stream: stage the corpus
    ``documents`` table (projected, repartitioned so the file stream
    yields several micro-batches) and re-read it schema-pinned — the
    text-corpus ingress dual of :func:`bounded_events_stream`."""
    from ..schemas import load_table

    stage = tempfile.mkdtemp(prefix="docs_stream_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select(*columns)
    d.repartition(8).write.mode("overwrite").parquet(stage)
    return (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
    )


def nb_counts_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the Naive-Bayes MODEL STATE on the
    stream: per micro-batch the batch's train-fold (lang, tok, cnt)
    multinomial counts and (lang, d_l) prior counts
    (plans.text_queries.nb_train_counts / nb_doc_counts — the SAME
    stages the batch classifier runs) merge ADDITIVELY with the last
    committed state, as the two versioned tables ``<table_dir>/wl`` and
    ``<table_dir>/dl`` under ONE marker of the module's commit protocol
    — counts are additive int64s, so the high-watermark replay guard
    IS the correctness (a replayed batch must not double-count a
    word). State: vocab×class-sized plus one row per class, never
    corpus-sized."""
    from ..plans.text_queries import nb_doc_counts, nb_split_docs, nb_train_counts

    os.makedirs(commits_dir, exist_ok=True)
    tables = {
        "wl": (nb_train_counts, _sum_merge(("lang", "tok"), ("cnt",))),
        "dl": (nb_doc_counts, _sum_merge(("lang",), ("d_l",))),
    }

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = _high_watermark(commits_dir)
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        train = nb_split_docs(batch).where(~F.col("is_test"))
        for name, (counts, merge) in tables.items():
            prev = _read_committed(
                batch.sparkSession,
                f"{table_dir}/{name}",
                commits_dir,
                _NB_SCHEMAS[name],
            )
            merge(prev, counts(train)).write.mode("overwrite").parquet(
                f"{table_dir}/{name}/v={batch_id}"
            )
        _commit(commits_dir, batch_id, [f"{table_dir}/{t}" for t in tables])

    return fn


def run_bounded_nb_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`nb_counts_batch_fn` over the bounded document
    stream to completion — the classifier TRAINS ON THE STREAM — then
    serve the held-out batch test fold from the FINAL committed model
    state via the identical tail the batch query uses
    (plans.text_queries.nb_confusion_from_counts). The state tables
    are additive and applied exactly-once, so the committed model
    EQUALS the batch aggregation and the confusion matrix is gated by
    the IDENTICAL oracle."""
    from ..plans.text_queries import nb_confusion_from_counts, nb_split_docs
    from ..schemas import load_table

    out = tempfile.mkdtemp(prefix="nb_stream_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "model")
    commits = os.path.join(out, "_commits")
    stream = bounded_documents_stream(spark, sf_dir)
    _drain(
        stream.writeStream.foreachBatch(nb_counts_batch_fn(table_dir, commits))
    )
    wl, dl = (
        _read_committed(spark, f"{table_dir}/{t}", commits, _NB_SCHEMAS[t])
        for t in ("wl", "dl")
    )
    test = nb_split_docs(load_table(spark, sf_dir, "documents")).where(
        F.col("is_test")
    )
    return nb_confusion_from_counts(wl, dl, test)


def chunk_ledger_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the incremental CHUNK-DEDUP
    LEDGER: per micro-batch every arriving document is content-defined
    chunked (plans.text_queries.content_defined_chunks — the SAME plan
    the batch chunker runs) and the ledger row per chunk hash —
    (first_doc_id = MIN, n_occurrences = SUM) — merges with the last
    committed ledger. MIN and SUM are both order-free and batch-split-
    free, so the drained ledger EQUALS the batch derivation no matter
    how the corpus was micro-batched; exactly-once by the module's
    commit protocol (:func:`versioned_merge_fn` — a replayed batch must
    not double-count a chunk). This is the production "ingest only
    what's new" shape: a chunk already in the ledger is a known
    duplicate the moment it arrives."""
    from ..plans.text_queries import content_defined_chunks

    return versioned_merge_fn(
        table_dir,
        commits_dir,
        _CHUNK_LEDGER_SCHEMA,
        lambda b: content_defined_chunks(b)
        .groupBy("chunk_hash")
        .agg(
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.count("*").cast("long").alias("n_occurrences"),
        ),
        lambda prev, led: prev.unionByName(led)
        .groupBy("chunk_hash")
        .agg(
            F.min("first_doc_id").cast("long").alias("first_doc_id"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
        ),
    )


def run_bounded_chunk_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`chunk_ledger_batch_fn` over the bounded document
    stream to completion and return the FINAL committed chunk ledger —
    gated against the oracle that derives the same (chunk_hash,
    first_doc_id, n_occurrences) table from the whole corpus at once."""
    out = tempfile.mkdtemp(prefix="chunk_ledger_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table_dir = os.path.join(out, "ledger")
    commits = os.path.join(out, "_commits")
    stream = bounded_documents_stream(
        spark, sf_dir, columns=("doc_id", "text")
    )
    _drain(
        stream.writeStream.foreachBatch(chunk_ledger_batch_fn(table_dir, commits))
    )
    return _read_committed(spark, table_dir, commits, _CHUNK_LEDGER_SCHEMA)


#: chunk-hash bucket count for the bucketed ledger. The ledger is the
#: one streaming family whose state grows with CORPUS CONTENT (~1
#: content-defined chunk per 8 tokens), so at 100 TB the bucket count
#: is sized so one bucket's ledger fits an executor (e.g. 4096 buckets
#: → tens of GB each) and a micro-batch's per-batch cost is
#: O(buckets its chunks hash into), never O(total distinct chunks).
CHUNK_LEDGER_N_BUCKETS = 16

_CHUNK_LEDGER_BUCKETED_SCHEMA = (
    "bucket int, chunk_hash string,"
    " first_doc_id bigint, n_occurrences bigint"
)

#: LSM ledger mid-stream compaction tier: a bucket whose file count
#: exceeds this folds at the NEXT batch boundary. Bounds read
#: amplification (≤ this many deltas scanned per bucket read) while
#: keeping each maintenance commit O(buckets over the tier), never
#: O(table) — the size-tiered answer to "compaction is the load-bearing
#: maintenance op of the append path".
CHUNK_LEDGER_COMPACT_MAX_FILES = 4


def chunk_ledger_bucketed_batch_fn(table):
    """foreachBatch body maintaining the incremental chunk-dedup ledger
    on a BUCKETED snapshot-manifest table — the scale fix for
    :func:`chunk_ledger_batch_fn`'s full-ledger rewrite: the ledger
    partitions by chunk-hash bucket, each micro-batch merges its delta
    into ONLY the buckets it touches, and untouched buckets carry
    forward by manifest reference with their files byte-identical
    (tests/test_snapshot.py pins this on the filesystem). The merge per
    bucket is the same order-free MIN/SUM as the full-rewrite fixture,
    so the drained ledger EQUALS the batch derivation — both gate
    against the identical oracle. Exactly-once: batch id = snapshot id,
    atomic manifest rename = commit point (see
    sources.snapshot.SnapshotTable.commit)."""
    from ..sources.snapshot import bucket_of

    def fn(batch: DataFrame, batch_id: int) -> None:
        from ..plans.text_queries import content_defined_chunks

        hw = table.batch_high_watermark()
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        spark = batch.sparkSession
        delta = (
            content_defined_chunks(batch)
            .groupBy("chunk_hash")
            .agg(
                F.min("doc_id").cast("long").alias("first_doc_id"),
                F.count("*").cast("long").alias("n_occurrences"),
            )
            .withColumn("bucket", bucket_of("chunk_hash", table.n_buckets))
            .localCheckpoint()  # consumed twice: touched buckets + merge
        )
        # touched bucket ids: bounded driver state (≤ n_buckets rows)
        touched = [
            r[0] for r in delta.select("bucket").distinct().collect()
        ]
        prev = table.read(spark, buckets=touched)
        merged = ledger_merge(prev.unionByName(delta.select(*prev.columns)))
        # snapshot ids are allocated off the chain head while the APPLIED
        # batch id travels separately as batch_hw — so maintenance
        # commits can take snapshot ids without desynchronizing the
        # replay guard (which keys on batch_hw, never on latest()).
        sid = 0 if table.latest() is None else table.latest() + 1
        table.commit(merged, sid, batch_hw=batch_id)

    return fn


def chunk_ledger_lsm_batch_fn(table):
    """foreachBatch body maintaining the chunk ledger as an LSM
    (append-delta) snapshot table — the write-optimized dual of
    :func:`chunk_ledger_bucketed_batch_fn`: each micro-batch writes
    ONLY its own per-chunk partial rows (MIN doc_id, COUNT within the
    batch) as delta files appended to the bucket file lists
    (SnapshotTable.commit_append) — O(batch) per batch with NO read of
    committed state, which is the honest answer when uniform chunk
    hashing makes a large batch touch every bucket and partial
    REWRITE degrades to full rewrite. MIN/SUM are associative, so the
    read-side fold of base+deltas equals the whole-corpus derivation;
    read amplification is bounded by merge-compaction cadence (the
    runner compacts once at drain; production compacts periodically).
    Exactly-once: the APPLIED batch id travels in the manifest as
    ``batch_hw`` — SEPARATE from the snapshot id, so the PERIODIC
    MID-STREAM merge-compaction this fn runs (size-tiered:
    SnapshotTable.compact_buckets folds only buckets whose delta-file
    count crossed ``CHUNK_LEDGER_COMPACT_MAX_FILES``, carrying
    batch_hw forward) can claim snapshot ids between live batches
    without the replay guard silently dropping the next batch. A
    replayed batch id ≤ batch_hw is a no-op."""
    from ..sources.snapshot import bucket_of

    def fn(batch: DataFrame, batch_id: int) -> None:
        from ..plans.text_queries import content_defined_chunks

        hw = table.batch_high_watermark()
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        delta = (
            content_defined_chunks(batch)
            .groupBy("chunk_hash")
            .agg(
                F.min("doc_id").cast("long").alias("first_doc_id"),
                F.count("*").cast("long").alias("n_occurrences"),
            )
            .withColumn("bucket", bucket_of("chunk_hash", table.n_buckets))
            # one delta FILE per bucket per batch (not one per shuffle
            # partition): keeps the size-tier honest — file count grows
            # with BATCHES, not with parallelism
            .repartition("bucket")
        )
        sid = 0 if table.latest() is None else table.latest() + 1
        table.commit_append(delta, sid, batch_hw=batch_id)
        # mid-stream size-tiered merge-compaction: bounds read
        # amplification to O(max_files) deltas per bucket while the
        # stream runs — the production cadence the docstrings
        # prescribe, now that batch_hw decouples it from the guard
        table.compact_buckets(
            batch.sparkSession,
            table.latest() + 1,
            max_files=CHUNK_LEDGER_COMPACT_MAX_FILES,
            fold=ledger_merge,
        )

    return fn


def ledger_merge(raw: DataFrame) -> DataFrame:
    """The ledger's read-side fold: MIN/SUM over base+delta partials —
    associative and order-free, so any delta split yields the same
    merged ledger. Used by the LSM reader and by its merge-compaction
    (which commits this fold back as the new base)."""
    return raw.groupBy("bucket", "chunk_hash").agg(
        F.min("first_doc_id").cast("long").alias("first_doc_id"),
        F.sum("n_occurrences").cast("long").alias("n_occurrences"),
    )


def run_bounded_chunk_ledger_lsm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive :func:`chunk_ledger_lsm_batch_fn` over the IDENTICAL
    bounded document stream as the other two ledger maintenances —
    size-tiered merge-compaction now runs MID-STREAM inside the batch
    fn (batch_hw keeps the replay guard honest across maintenance
    snapshots) — then finalize: fold any remaining over-tier buckets,
    expire the pre-drain time-travel window, vacuum the folded delta
    files, and return the final ledger — gated by the same batch
    oracle as both twins."""
    from ..sources.snapshot import SnapshotTable

    out = tempfile.mkdtemp(prefix="chunk_ledger_lsm_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table = SnapshotTable(
        os.path.join(out, "ledger"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    stream = bounded_documents_stream(
        spark, sf_dir, columns=("doc_id", "text")
    )
    _drain(stream.writeStream.foreachBatch(chunk_ledger_lsm_batch_fn(table)))
    return finalize_chunk_ledger_lsm(spark, table)


def finalize_chunk_ledger_lsm(spark: SparkSession, table) -> DataFrame:
    """Drain-time finalization of the LSM ledger, split out so the
    empty-stream edge is unit-testable: an unborn table (zero batches
    delivered) returns an empty ledger instead of raising; otherwise
    fold the remaining over-tier buckets to one base (size-tiered, so
    already-compacted buckets carry by reference), trim time travel,
    GC the folded deltas, and return the logical ledger. The read-side
    MIN/SUM fold is idempotent on folded rows, so applying it here is
    correct whatever the compaction state."""
    hw = table.latest()
    hw = table.latest()
    if hw is None:  # zero micro-batches: empty corpus, empty ledger
        return spark.createDataFrame([], _CHUNK_LEDGER_SCHEMA)
    table.compact(spark, hw + 1, fold=ledger_merge)
    table.expire(keep_from=hw + 1)
    table.vacuum()
    return ledger_merge(table.read(spark)).drop("bucket")


#: maintained-view schema for the snapshot change-feed consumer.
#: sum_dec rides a wide exact decimal end to end so the Abelian
#: add-then-subtract refresh cancels exactly (no float drift).
_SNAPSHOT_VIEW_SCHEMA = (
    "o_orderstatus string, n_orders bigint, sum_dec decimal(38,4)"
)


def _snapshot_view_partials(df: DataFrame, sign: int) -> DataFrame:
    """Signed per-status (count, decimal-sum) partials — the
    Abelian-group aggregate the incremental refresh adds/subtracts."""
    return df.groupBy("o_orderstatus").agg(
        (F.count("*") * sign).cast("long").alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * sign)
        .cast("decimal(38,4)")
        .alias("sum_dec"),
    )


def snapshot_view_batch_fn(table, view_dir: str, commits_dir: str):
    """foreachBatch body of the SNAPSHOT CHANGE-FEED CONSUMER — the
    streaming completion of the batch incremental-MV query
    (plans.source_queries.source_snapshot_incremental_agg): the stream
    tails the table's snapshot ids; each micro-batch advances the
    maintained per-status aggregate from the last APPLIED source
    snapshot to the newest delivered one by reading ONLY the buckets
    the manifest-level change feed reports (SnapshotTable.
    changed_buckets — old-version partials subtracted, new-version
    partials added; merge-on-read tombstones and appended files both
    surface through the same feed). The refresh composes over any
    batching of snapshot ids — diffing applied→max(delivered) directly
    is exact because the partials are Abelian — so the consumer never
    depends on one-file-per-trigger delivery.

    Exactly-once under the module's commit protocol keyed on the
    APPLIED SOURCE SNAPSHOT id (not the micro-batch id): a redelivered
    or poisoned replay of an already-applied snapshot id is a no-op.

    Scale: the downstream view of a 100 TB table refreshes per
    trigger by reading O(changed buckets); the full-table aggregation
    runs exactly once, at seed."""
    os.makedirs(commits_dir, exist_ok=True)

    def fn(batch: DataFrame, batch_id: int) -> None:
        # delivered snapshot ids: bounded driver state (one tiny row
        # per source snapshot, never data rows)
        sids = sorted({int(r["value"]) for r in batch.collect()})
        applied = _high_watermark(commits_dir)
        if applied is None:
            return  # seed marker is written before the stream starts
        targets = [s for s in sids if s > applied]
        if not targets:
            return  # replayed (possibly poisoned) ids: already folded
        target = max(targets)
        spark = batch.sparkSession
        prev = _read_committed(spark, view_dir, commits_dir, _SNAPSHOT_VIEW_SCHEMA)
        cb = table.changed_buckets(applied, target)
        minus = _snapshot_view_partials(
            table.read(spark, as_of=applied, buckets=cb), -1
        )
        plus = _snapshot_view_partials(
            table.read(spark, as_of=target, buckets=cb), 1
        )
        refreshed = (
            prev.unionByName(minus)
            .unionByName(plus)
            .groupBy("o_orderstatus")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("sum_dec").cast("decimal(38,4)").alias("sum_dec"),
            )
            .where(F.col("n_orders") > 0)
        )
        refreshed.write.mode("overwrite").parquet(f"{view_dir}/v={target}")
        _commit(commits_dir, target, [view_dir])

    return fn


def run_bounded_snapshot_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build an orders snapshot table whose history exercises all
    three commit kinds — snapshot 1: partial-rewrite upsert (+50 on
    %10=7, CAS-guarded), snapshot 2: MERGE-ON-READ tombstone delete of
    %10=3, snapshot 3: LSM append of %10=1 inserts at key+100000 —
    then TAIL ITS CHANGE FEED as a bounded stream (one trigger file
    per published snapshot id) driving
    :func:`snapshot_view_batch_fn`, and return the maintained view at
    the final applied snapshot — gated against the oracle that
    aggregates the final table state directly."""
    from ..schemas import load_table
    from ..sources.snapshot import SnapshotTable, bucket_of

    n_buckets = 8
    out = tempfile.mkdtemp(prefix="snap_view_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table = SnapshotTable(
        os.path.join(out, "orders_snap"),
        "bucket int, o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double",
        n_buckets,
    )
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .withColumn("bucket", bucket_of("o_orderkey", n_buckets))
    )
    table.commit(base, 0)
    # snapshot 1: partial-rewrite upsert, CAS-guarded
    parent = table.latest()
    upd = base.filter(F.col("o_orderkey") % 10 == 7).withColumn(
        "o_totalprice", F.col("o_totalprice") + 50
    ).localCheckpoint()  # consumed twice: touched buckets + merge
    touched = [r[0] for r in upd.select("bucket").distinct().collect()]
    prev = table.read(spark, buckets=touched)
    merged = prev.join(
        F.broadcast(upd.select("o_orderkey")), "o_orderkey", "left_anti"
    ).unionByName(upd.select(*prev.columns))
    table.commit(merged, 1, expected_parent=parent)
    # snapshot 2: merge-on-read delete
    table.commit_delete(
        base.filter(F.col("o_orderkey") % 10 == 3).select(
            "bucket", "o_orderkey"
        ),
        2,
        key_cols=("o_orderkey",),
    )
    # snapshot 3: append-only inserts
    table.commit_append(
        base.filter(F.col("o_orderkey") % 10 == 1)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000)
        .withColumn("bucket", bucket_of("o_orderkey", n_buckets)),
        3,
    )
    # seed the view from snapshot 0 (the one full pass), then tail
    view_dir = os.path.join(out, "view")
    commits = os.path.join(out, "_commits")
    os.makedirs(commits, exist_ok=True)
    _snapshot_view_partials(table.read(spark, as_of=0), 1).write.mode(
        "overwrite"
    ).parquet(f"{view_dir}/v=0")
    _commit(commits, 0, [view_dir])
    # the change feed: one trigger file per published snapshot id
    feed = os.path.join(out, "feed")
    os.makedirs(feed, exist_ok=True)
    for sid in (1, 2, 3):
        with open(os.path.join(feed, f"snap-{sid}.txt"), "w") as fh:
            fh.write(str(sid))
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(feed)
    )
    _drain(
        stream.writeStream.foreachBatch(
            snapshot_view_batch_fn(table, view_dir, commits)
        )
    )
    return _read_committed(
        spark, view_dir, commits, _SNAPSHOT_VIEW_SCHEMA
    ).select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_dec").cast("double").alias("sum_totalprice"),
    )


def run_bounded_chunk_ledger_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive :func:`chunk_ledger_bucketed_batch_fn` over the IDENTICAL
    bounded document stream as :func:`run_bounded_chunk_ledger` and
    return the final committed ledger read from the snapshot manifest
    — same oracle as the full-rewrite twin, so the partial-rewrite
    economics change nothing about the answer."""
    from ..sources.snapshot import SnapshotTable

    out = tempfile.mkdtemp(prefix="chunk_ledger_bucketed_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table = SnapshotTable(
        os.path.join(out, "ledger"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    stream = bounded_documents_stream(
        spark, sf_dir, columns=("doc_id", "text")
    )
    _drain(stream.writeStream.foreachBatch(chunk_ledger_bucketed_batch_fn(table)))
    return table.read(spark).drop("bucket")
