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
table format like Delta/Iceberg replaces wholesale.

Each bounded sink is a ``delta(batch)``, the micro-batch's
contribution, plus the rule that folds it into the committed state.
Three functions commit them, one per layout, and each owns that
layout's replay guard:

- :func:`append_fold_fn` for state that is a fold, ``merge(prev, d) =
  fold(prev ∪ d)``: sums (CMS, PSI, AUC, Naive Bayes), MIN/SUM (the
  chunk ledger), HLL unions and keep-k-per-day (quantile, KMV). Each
  batch appends its folded delta and reads no committed state, so its
  cost is O(batch) whatever the state's size; readers apply the fold;
- :func:`versioned_merge_fn` for the two merges that are not a fold.
  The Misra–Gries cap subtracts each merged batch's (k+1)-th count, and
  SCD2 closes versions in batch order, so both must see the committed
  state: each batch writes a full new copy of it;
- :func:`snapshot_merge_fn` for manifest state
  (``sources.snapshot.SnapshotTable``): the manifest's ``batch_hw`` is
  the high watermark, the atomic manifest create is the commit point,
  and only the buckets the delta touches are read and rewritten (or the
  delta is appended, for the LSM ledger).

Two sinks on the append layout keep their own write step.
:func:`streaming_ingest_batch_fn` overlaps its five table writes on
driver threads and derives the grains from the second table it just
wrote. :func:`snapshot_view_batch_fn` keys its guard on the applied
source snapshot id, not on the micro-batch id.

- **Layout.** A sink owns its table dirs plus one ``commits_dir``. An
  append table gets one dir per applied batch, ``<table>/batch=<id>/``,
  holding that batch's folded contribution (for the rollup grains, the
  reference's COUNTER bump); :func:`compact_fold_tables` folds old dirs
  into ``_compacted/upto=<U>`` segments. Each append table is described
  once by a :class:`Fold`: its pinned schema and its fold. A versioned
  table holds one full copy of its state per applied batch,
  ``<table>/v=<batch_id>/``.
- **Marker.** The commit point of batch ``b`` is the empty file
  ``<commits_dir>/<b>``, published by ``os.replace`` of ``<b>.tmp``
  (:func:`_commit`) only after every table of the batch is durable.
- **High-watermark rule.** foreachBatch delivers batches in order and
  the marker is each batch's last step, so every id ≤ the newest
  marker (the high watermark, :func:`_high_watermark`) is committed. A
  batch with ``batch_id <= hw`` is a replay and is skipped. Any other
  batch OVERWRITES its own ``batch=<batch_id>`` dir (or, versioned,
  merges onto ``v=<hw>`` into its own ``v=<batch_id>``), so a batch
  replayed after a crash before its marker rebuilds the same dir: it
  can never be applied twice.
- **Retention.** After each commit only the newest ``retain_versions``
  (default :data:`RETAIN_VERSIONS`) markers are kept, and as many
  ``v=`` dirs of a versioned table. The newest marker alone carries the
  committed set, so pruning never widens a read. A reader that resolved
  version N keeps a valid directory for ``retain_versions - 1`` further
  commits (≈ that many trigger intervals) — size it above the longest
  expected read. Append tables keep their batch dirs until a
  compaction folds them (its own retention rule).
- **Readers.** An append table is read by :func:`read_fold_table`: the
  newest segment plus the batch dirs in (segment upto, hw], folded; a
  versioned table only as ``v=<hw>`` (:func:`_read_committed`).
  Anything newer is an uncommitted in-flight batch, so a crash
  mid-batch is invisible to every reader.

The ``run_bounded_*`` harnesses drive a sink over a staged, bounded
stream to completion and read back the committed result: a
``foreachBatch`` sink through :func:`_drain_sink`, a stateful query
through :func:`_drain_memory`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.ingest import TABLES
from ..operators.rollups import CHAIN, rollup_from_second
from ..operators.sketches import (
    KMV_K,
    QSK_K,
    cms_build,
    cms_estimate,
    cms_merge,
    kmv_estimate_col,
    kmv_hash_expr,
)
from ..schemas import METER_SAMPLES, METER_SAMPLES_SECOND
from ..sources.meter_generator import meter_samples_second

#: default retention window: ``v=`` dirs and markers kept after each
#: commit (the module docstring's retention rule)
RETAIN_VERSIONS = 4
#: default count of newest batch dirs a compaction leaves unfolded
#: (reader-race margin, :func:`compact_stream_tables`)
COMPACT_KEEP_BATCHES = 8


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
    retain_versions: int = RETAIN_VERSIONS,
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


def versioned_merge_fn(commits_dir: str, *tables):
    """foreachBatch body of a versioned sink under the module's commit
    protocol — for a merge that must see the committed state because it
    is not a fold (:func:`append_fold_fn` takes every merge that is).
    Each of ``tables`` is a ``(table_dir, schema, delta, merge)`` tuple:
    ``delta(batch) -> DataFrame`` is the batch's contribution and
    ``merge(prev, delta) -> DataFrame`` folds it into the committed
    state ``prev`` (an empty frame of ``schema`` on the first batch). A
    replayed batch is skipped; otherwise every table is written as
    ``v=<batch_id>``, in order, and only then does the one marker of
    the batch land."""
    os.makedirs(commits_dir, exist_ok=True)

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = _high_watermark(commits_dir)
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        for table_dir, schema, delta, merge in tables:
            prev = _read_committed(batch.sparkSession, table_dir, commits_dir, schema)
            merge(prev, delta(batch)).write.mode("overwrite").parquet(
                f"{table_dir}/v={batch_id}"
            )
        _commit(commits_dir, batch_id, [t[0] for t in tables])

    return fn


class Fold(NamedTuple):
    """The spec of an append table: ``schema`` pins every read of its
    batch dirs and segments (no inference job; an empty dir reads as
    empty) and ``fold(rows) -> DataFrame`` collapses the rows of any set
    of them into the state they hold. The fold must be associative, so
    that folding folded rows again changes nothing; ``None`` keeps the
    rows as they are."""

    schema: str | StructType
    fold: Callable[[DataFrame], DataFrame] | None


def _compacted_state(table_dir: str) -> tuple[int, str | None]:
    """(upto, dir) of the newest compacted segment under
    ``<table>/_compacted`` — rows of batches 0..upto folded into one
    parquet dir. (-1, None) when nothing is compacted yet."""

    root = os.path.join(table_dir, "_compacted")
    if not os.path.isdir(root):
        return -1, None
    best_upto, best = -1, None
    for d in os.listdir(root):
        if d.startswith("upto="):
            upto = int(d[5:])
            if upto > best_upto:
                best_upto, best = upto, os.path.join(root, d)
    return best_upto, best


def _batch_dirs(table_dir: str, lo: int, hi: int) -> list[str]:
    """The ``batch=<id>`` dirs of a table with ``lo < id <= hi``."""
    return [
        os.path.join(table_dir, d)
        for d in sorted(os.listdir(table_dir))
        if d.startswith("batch=") and lo < int(d[6:]) <= hi
    ]


def _fold_parts(spark: SparkSession, spec: Fold, parts: list[str]) -> DataFrame:
    """The state held by the segment and batch dirs ``parts``."""
    rows = spark.read.schema(spec.schema).parquet(*parts)
    return rows if spec.fold is None else spec.fold(rows)


def read_fold_table(
    spark: SparkSession, table_dir: str, commits_dir: str, spec: Fold
) -> DataFrame:
    """The committed state of an append table: the newest compacted
    segment (if any) plus the batch dirs in (segment upto,
    high-watermark], folded by ``spec``; an empty frame of its schema
    before the first commit. An uncommitted or partially-written
    in-flight ``batch=`` dir is never touched, so a crash mid-batch is
    invisible here."""
    hw = _high_watermark(commits_dir)
    if hw is None:
        return spark.createDataFrame([], spec.schema)
    upto, seg = _compacted_state(table_dir)
    parts = _batch_dirs(table_dir, upto, hw)
    if seg is not None:
        parts.append(seg)
    return _fold_parts(spark, spec, parts)


def append_fold_fn(commits_dir: str, *tables):
    """foreachBatch body of an append sink under the module's commit
    protocol. Each of ``tables`` is a ``(table_dir, spec, delta)``
    tuple: ``delta(batch) -> DataFrame`` is the batch's contribution and
    ``spec`` the table's :class:`Fold`. A replayed batch is skipped;
    otherwise every table's folded delta is written as
    ``batch=<batch_id>``, in order, and only then does the one marker
    of the batch land. No committed state is read, so the per-batch
    cost is O(batch) however large the state; :func:`read_fold_table`
    reads it back."""
    os.makedirs(commits_dir, exist_ok=True)

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = _high_watermark(commits_dir)
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        for table_dir, spec, delta in tables:
            spec.fold(delta(batch)).write.mode("overwrite").parquet(
                f"{table_dir}/batch={batch_id}"
            )
        _commit(commits_dir, batch_id, [])

    return fn


def compact_fold_tables(
    spark: SparkSession, commits_dir: str, keep_batches: int, *tables
) -> None:
    """Fold old ``batch=<id>`` dirs of each ``(table_dir, spec)`` of
    ``tables`` into one compacted segment — the maintenance job that
    bounds metadata, small-file growth and read fan-out on an unbounded
    stream (one dir per batch otherwise). A segment holds what
    :func:`read_fold_table` would read from what it folds. Idempotent and
    crash-safe:

    - the new segment ``_compacted/upto=<U>`` (U = high-watermark −
      ``keep_batches``; recent dirs stay out for reader-race safety) is
      written to a dotted temp dir and ``os.replace``d into place —
      readers never see a partial segment, and a crash mid-compaction
      leaves the previous segment authoritative;
    - batch dirs are DELETED only up to the *previous* segment's upto,
      so a reader that resolved the previous segment keeps every dir it
      may touch for one full compaction cycle (the same bounded-race
      window as marker retention);
    - the previous segment itself is kept (current + previous), older
      ones removed.

    Readers take the newest segment plus batch dirs in (upto,
    high-watermark] — exclusive bounds, so rows are never double-read.
    At real scale this runs as a scheduled maintenance job."""

    hw = _high_watermark(commits_dir)
    if hw is None:
        return
    new_upto = hw - keep_batches
    for path, spec in tables:
        prev_upto, prev_dir = _compacted_state(path)
        parts = _batch_dirs(path, prev_upto, new_upto)
        if not parts:
            continue
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
        _fold_parts(spark, spec, parts).coalesce(4).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)  # publish point
        # delete only what BOTH retained segments cover
        for d in _batch_dirs(path, -1, prev_upto):
            shutil.rmtree(d, ignore_errors=True)
        for d in os.listdir(root):
            if d.startswith("upto=") and int(d[5:]) not in (new_upto, prev_upto):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def snapshot_merge_fn(table, delta, merge):
    """foreachBatch body of a sink whose state is a bucketed
    ``sources.snapshot.SnapshotTable`` — the manifest counterpart of
    :func:`versioned_merge_fn`. The applied micro-batch id travels in
    the manifest as ``batch_hw``, separate from the snapshot id, so
    maintenance commits (compaction) can take snapshot ids between
    batches without desynchronizing the replay guard; the atomic
    manifest create is the commit point.

    A batch with ``batch_id <= batch_hw`` is a replay and is skipped.
    Otherwise ``delta(batch)``, whose rows carry the ``bucket`` column,
    is committed as the next snapshot id: ``merge(prev, delta)``
    replaces the committed rows ``prev`` of the buckets the delta
    touches (untouched buckets carry forward by manifest reference,
    their files never opened); with ``merge=None`` the delta is
    appended to its buckets' file lists with no read of committed
    state (``SnapshotTable.commit_append``, the LSM shape)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = table.batch_high_watermark()
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied
        d = delta(batch)
        latest = table.latest()
        sid = 0 if latest is None else latest + 1
        if merge is None:
            table.commit_append(d, sid, batch_hw=batch_id)
            return
        d = d.localCheckpoint()  # consumed twice: touched buckets + merge
        # touched bucket ids: bounded driver state (≤ n_buckets rows)
        touched = [r[0] for r in d.select("bucket").distinct().collect()]
        prev = table.read(batch.sparkSession, buckets=touched)
        table.commit(merge(prev, d), sid, batch_hw=batch_id)

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


def _drain_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Drain the streaming query ``df`` into a memory sink under a
    unique name and return the sink's table. (The name shows only in
    the analyzed plan; the optimized plan reads ``MemoryPlan``.)"""
    name = f"stream_memory_{uuid.uuid4().hex}"
    _drain(df.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return df.sparkSession.table(name)


def _drain_sink(stream: DataFrame, sink, state) -> DataFrame:
    """Drain ``stream`` through the foreachBatch body
    ``sink(table_dir, commits_dir)`` and return
    ``state(table_dir, commits_dir)``, the committed state. Both dirs
    live under a fresh scratch root removed at exit."""
    root = tempfile.mkdtemp(prefix="stream_sink_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table_dir = os.path.join(root, "state")
    commits = os.path.join(root, "_commits")
    _drain(stream.writeStream.foreachBatch(sink(table_dir, commits)))
    return state(table_dir, commits)


def _file_stream(df: DataFrame, files_per_trigger: int) -> DataFrame:
    """Stage ``df`` as parquet (one file per partition) in a scratch dir
    removed at exit, and re-read it as a schema-pinned file stream of
    ``files_per_trigger`` files per micro-batch."""
    stage = tempfile.mkdtemp(prefix="stream_in_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    df.write.mode("overwrite").parquet(stage)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage)
    )


def _four_file_stream(df: DataFrame) -> DataFrame:
    """``df`` replayed as 4 staged files, one per micro-batch."""
    return _file_stream(df.repartition(4), 1)


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


def windowed_rollup(
    stream: DataFrame, grain_duration: str, delay: str
) -> DataFrame:
    """Streaming rollup: tumbling-window stateful sum — the COUNTER
    table as a continuously-maintained aggregation (update/complete
    output mode both valid; state keyed (said, window)). ``delay`` is
    the watermark lateness: rows behind it are dropped, and in append
    mode a window is emitted once its end passes the watermark."""
    return (
        stream.withWatermark("datetime", delay)
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
        return _drain_memory(
            dedup_transmission_stream(stream, lateness="10 minutes"), "append"
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def bounded_second_stream(
    spark: SparkSession, num_meters: int = 4, seconds: int = 7200
) -> tuple[DataFrame, str]:
    """Deterministic bounded stream for tests/oracle checks: stage the
    batch-generated second-grain table as parquet, then re-read it as a
    file stream (schema-pinned). Returns (stream, staged_path).

    Staged as at least 32 files whatever the core count (files are
    capped at 1/32 of the known row count), so a drain at 8 files per
    trigger always spans several micro-batches."""
    stage = tempfile.mkdtemp(prefix="meter_stream_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    meter_samples_second(spark, num_meters=num_meters, seconds=seconds).write.mode(
        "overwrite"
    ).option("maxRecordsPerFile", -(-num_meters * seconds // 32)).parquet(stage)
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
    return _drain_memory(
        windowed_rollup(stream, grain_duration, "0 seconds"), "complete"
    )


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


#: the minute/hour/day tables: a key's rows across batch dirs and
#: compacted segments are COUNTER increments that add up
GRAIN_TABLES = tuple(f"meter_samples_{g}" for g in CHAIN)


def _sum_fold(keys: tuple[str, ...], cols: tuple[str, ...]):
    """``fold`` of additive state: re-sum ``cols`` (as long) per
    ``keys``."""
    return lambda rows: rows.groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in cols]
    )


#: the five tables of :func:`streaming_ingest_batch_fn`. The raw and
#: second tables hold rows as written; a grain's rows add up per (said,
#: datetime), and its joules widen to long
INGEST_FOLDS = {
    "meter_samples": Fold(METER_SAMPLES, None),
    "meter_samples_second": Fold("said int, datetime timestamp, joules int", None),
    **{
        t: Fold(
            "said int, datetime timestamp, joules long",
            _sum_fold(("said", "datetime"), ("joules",)),
        )
        for t in GRAIN_TABLES
    },
}


def streaming_ingest_batch_fn(
    paths: dict[str, str],
    commits_dir: str,
    retain_versions: int = RETAIN_VERSIONS,
    compact_every: int | None = None,
    compact_keep_batches: int = COMPACT_KEEP_BATCHES,
):
    """foreachBatch body for the five-table write fan-out (K1-K5,
    core.clj:100-153) maintained continuously: per micro-batch, write
    the raw arrays, the per-second energy rows and each rollup grain's
    increment — the reference's COUNTER bumps, append-only.

    Delivery is EXACTLY-ONCE, strictly stronger than the reference's
    fire-and-forget (T5), by the module docstring's commit protocol:
    every table lands in ``<table>/batch=<id>/``; the marker lands only
    after all five are durable, and markers beyond the newest
    ``retain_versions`` are pruned after it. No committed state is
    read, so the per-batch cost is O(batch), whatever the stream's
    history; :func:`read_stream_table` sums the grain increments. It
    writes its own tables instead of going through
    :func:`append_fold_fn` for the driver-thread overlap and the
    read-back of the second table below; each table's
    :data:`INGEST_FOLDS` entry says how it is read and compacted.

    ``compact_every=N`` folds old batch dirs into one compacted segment
    per table every N commits (:func:`compact_stream_tables`) —
    bounding small-file growth on the unbounded runner.

    Scale notes: the raw write is shuffle-free (narrow write of the
    arriving partitions); each grain increment shuffles only the
    batch's (said, bucket) keys. Each grain derives directly from the
    just-written second table (sum is associative, so second→hour ≡
    second→minute→hour), so raw rows are folded exactly once and the
    three grain writes are independent jobs."""
    from ..functions.energy import joules_over_second

    os.makedirs(commits_dir, exist_ok=True)

    def fn(batch: DataFrame, batch_id: int) -> None:
        hw = _high_watermark(commits_dir)
        if hw is not None and batch_id <= hw:
            return  # replayed, fully applied — exactly-once
        spark = batch.sparkSession

        def _write(df: DataFrame, table: str) -> None:
            df.write.mode("overwrite").parquet(f"{paths[table]}/batch={batch_id}")

        # Derive the grain increments from the JUST-WRITTEN second
        # table, not from the in-memory lineage: each grain write is its
        # own Spark action, and the lineage re-executed the raw batch
        # scan plus the 15k-element joules fold once PER GRAIN (4× the
        # stream's dominant CPU per micro-batch — r14, guide §1.2
        # "don't recompute what you already wrote"). The read-back is
        # the tiny (said, datetime, joules) table; the rows are
        # identical by construction (lossless write). joules is INT at
        # the second grain (joules_over_second); the rollup sum widens
        # it to long per INGEST_FOLDS.
        def _write_second() -> DataFrame:
            _write(
                batch.select(
                    "said",
                    "datetime",
                    joules_over_second(F.col("watts")).alias("joules"),
                ),
                "meter_samples_second",
            )
            return spark.read.schema(
                INGEST_FOLDS["meter_samples_second"].schema
            ).parquet(f"{paths['meter_samples_second']}/batch={batch_id}")

        def _write_grain(second: DataFrame, grain: str) -> None:
            _write(
                rollup_from_second(second, grain).sortWithinPartitions(
                    "said", "datetime"
                ),
                f"meter_samples_{grain}",
            )

        # The five writes target disjoint tables — independent Spark
        # jobs, submitted from driver threads (guide §2.6) so the small
        # grain writes back-fill executors idled by the raw write's task
        # tail instead of queueing as sequential driver-blocking
        # actions. Only the real data dependency is sequential: grain
        # writes start after the second table (their input) is durable.
        # The commit marker still lands only after ALL five tables are
        # durable (the .result() joins below).
        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [pool.submit(_write, batch, "meter_samples")]
            second = _write_second()
            futs += [pool.submit(_write_grain, second, g) for g in CHAIN]
            for f in futs:
                f.result()
        _commit(commits_dir, batch_id, [], retain_versions)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_stream_tables(
                spark, paths, commits_dir, keep_batches=compact_keep_batches
            )

    return fn


def compact_stream_tables(
    spark: SparkSession,
    paths: dict[str, str],
    commits_dir: str,
    keep_batches: int = COMPACT_KEEP_BATCHES,
) -> None:
    """:func:`compact_fold_tables` over the five tables of
    :func:`streaming_ingest_batch_fn`, each by its :data:`INGEST_FOLDS`
    entry — a grain segment holds the SUM per (said, datetime) of what
    it folds. The unbounded runner inlines it every ``compact_every``
    commits."""
    compact_fold_tables(
        spark,
        commits_dir,
        keep_batches,
        *[(paths[t], INGEST_FOLDS[t]) for t in TABLES],
    )


def read_stream_table(
    spark: SparkSession, paths: dict[str, str], table: str, commits_dir: str
) -> DataFrame:
    """Read one table maintained by :func:`streaming_ingest_batch_fn`
    through :func:`read_fold_table` — the grain tables summed per
    (said, datetime). Raises before the first commit."""
    if _high_watermark(commits_dir) is None:
        raise FileNotFoundError(f"no committed version of {table} yet")
    return read_fold_table(spark, paths[table], commits_dir, INGEST_FOLDS[table])


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
    table writes, the commit marker) are constant
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
    from ..sources.meter_generator import transmissions

    owned = stage_dir is None
    stage = tempfile.mkdtemp(prefix="raw_stream_") if owned else stage_dir
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
        # a stage this call made is only read by the (now finished)
        # stream — multi-GB at bench sizes, so never leave it behind
        if owned:
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
    columns: tuple[str, ...] = ("user_id", "ts", "event_id", "value"),
) -> DataFrame:
    """Deterministic bounded event stream: stage the corpus ``events``
    table (projected to ``columns``) and re-read it as a schema-pinned
    file stream, 8 files per micro-batch."""
    from ..schemas import load_table

    return _file_stream(load_table(spark, sf_dir, "events").select(*columns), 8)


def run_bounded_sessions(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Run the streaming sessionization to completion and return the
    final session table (complete mode: every closed + open session)."""
    return _drain_memory(
        session_rollup(bounded_events_stream(spark, sf_dir), gap), "complete"
    )


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
    return _drain_memory(agg, "complete")


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
    return _drain_memory(joined, "append")


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
    return _drain_memory(windowed_rollup(stream, grain, delay), "append")


def run_bounded_cumulative(
    spark: SparkSession, num_meters: int = 4, seconds: int = 3600
) -> DataFrame:
    """Drive the stateful counter over the bounded stream and return
    every emitted checkpoint row (memory sink, update mode)."""
    stream, _ = bounded_second_stream(spark, num_meters, seconds)
    return _drain_memory(cumulative_energy_stream(stream), "update")


def _bottom_k(k: int, *order: str):
    """``fold`` of a per-day sample: the ``k`` first rows of each day in
    ``order``. The bottom k of a union of bottom-k samples is the bottom
    k of everything they sampled (mergeability)."""
    wday = Window.partitionBy("day").orderBy(*order)
    return lambda rows: (
        rows.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _quantile_fold(k: int) -> Fold:
    """The quantile-sample table of :func:`quantile_sketch_rollup_batch_fn`
    at sample size ``k`` per day."""
    return Fold("day timestamp, h bigint, v bigint", _bottom_k(k, "h", "v"))


#: the append tables of the sketch and count sinks below — one spec
#: serves each sink's writer, its harness's read and any compaction
_SKETCH = Fold(
    "day timestamp, user_sketch binary",
    lambda rows: rows.groupBy("day").agg(
        F.hll_union_agg("user_sketch").alias("user_sketch")
    ),
)
_CMS = Fold("day date, r int, c int, cnt long", _sum_fold(("day", "r", "c"), ("cnt",)))
_KMV = Fold(
    "day timestamp, h bigint", lambda rows: _bottom_k(KMV_K, "h")(rows.distinct())
)
_PSI = Fold(
    "bucket bigint, c_ref bigint, c_cur bigint",
    _sum_fold(("bucket",), ("c_ref", "c_cur")),
)
_AUC = Fold(
    "score bigint, cnt bigint, pos bigint", _sum_fold(("score",), ("cnt", "pos"))
)
_NB = {
    "wl": Fold("lang string, tok string, cnt bigint", _sum_fold(("lang", "tok"), ("cnt",))),
    "dl": Fold("lang string, d_l bigint", _sum_fold(("lang",), ("d_l",))),
}
#: the versioned Misra–Gries summary (its merge is not a fold)
_MG_SCHEMA = "user_id long, cnt long"

#: micro-units of an event ``value``: exact decimal scaling to int64
_VALUE_MICRO = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
#: the KMV sketch's distinct key: one user on one day
_USER_DAY_KEY = (
    "CONCAT(CAST(user_id AS STRING), ':', CAST(CAST(ts AS DATE) AS STRING))"
)


def sketch_rollup_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining a SKETCH rollup table: per
    micro-batch, the day-grain HLL sketches of the arriving events are
    appended, and readers ``hll_union`` them per day — COUNTER
    maintenance (operators.rollups.counter_merge) applied to mergeable
    Datasketches state instead of additive counters, maintaining a
    metric plain counters cannot (distinct users). Exactly-once by the
    module's commit protocol (:func:`append_fold_fn`)."""
    return append_fold_fn(
        commits_dir,
        (
            table_dir,
            _SKETCH,
            lambda b: b.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
                F.hll_sketch_agg("user_id").alias("user_sketch")
            ),
        ),
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

    It stays on the versioned layout: closing a version needs the
    committed open version, in batch order, so the merge is not a fold
    that :func:`append_fold_fn` could defer to the reader.

    Scale: this fixture rewrites the full history per version; the
    production shape is :func:`scd2_bucketed_batch_fn`, where the
    history partitions by key bucket on a snapshot-manifest table and
    only affected buckets rewrite — untouched buckets carry forward by
    manifest reference, the same economics as the IVF layout."""
    return versioned_merge_fn(
        commits_dir,
        (
            table_dir,
            history_schema,
            lambda b: b,
            lambda prev, b: scd2_merge(prev, b, key_col, payload_cols),
        ),
    )


_SCD2_FEED_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
    " seq int, op string"
)
_SCD2_HISTORY_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
    " valid_from_seq int, valid_to_seq int, is_current boolean"
)
_SCD2_PAYLOAD = ["o_orderkey", "o_orderstatus", "o_totalprice"]


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
    return _drain_sink(
        _stage_scd2_feed(spark, sf_dir),
        lambda t, c: scd2_batch_fn(
            t, c, _SCD2_HISTORY_SCHEMA, "o_orderkey", _SCD2_PAYLOAD
        ),
        lambda t, c: _read_committed(spark, t, c, _SCD2_HISTORY_SCHEMA),
    )


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
    gate against the identical batch oracle (:func:`snapshot_merge_fn`
    commits it)."""
    from ..sources.snapshot import bucket_of

    bucket = bucket_of(key_col, table.n_buckets)
    return snapshot_merge_fn(
        table,
        lambda b: b.withColumn("bucket", bucket),
        lambda prev, b: scd2_merge(
            prev.drop("bucket"), b, key_col, payload_cols
        ).withColumn("bucket", bucket),
    )


def run_bounded_scd2_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`scd2_bucketed_batch_fn` over the IDENTICAL staged
    changelog as :func:`run_bounded_scd2` and return the final
    committed history read from the snapshot manifest — gated by the
    same batch oracle, so full-rewrite, bucketed-partial-rewrite, and
    one-shot batch builds are all pinned to one truth."""
    from ..sources.snapshot import SnapshotTable

    return _drain_sink(
        _stage_scd2_feed(spark, sf_dir),
        lambda t, _: scd2_bucketed_batch_fn(
            SnapshotTable(t, _SCD2_BUCKETED_SCHEMA, SCD2_N_BUCKETS),
            "o_orderkey",
            _SCD2_PAYLOAD,
        ),
        lambda t, _: SnapshotTable.open(t).read(spark).drop("bucket"),
    )


def run_bounded_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`sketch_rollup_batch_fn` over a bounded stream of the
    ``events`` table (:func:`_four_file_stream`), then gate the maintained sketch table: weekly
    estimates from the FINAL committed version against exact weekly
    distincts recomputed from raw — the streaming dual of the batch
    ``sketch_rollup_distinct_users``. At 100 TB this is the insert-time
    pre-aggregation economics for distinct metrics: each event is
    folded into a fixed-size sketch once, any coarser window is a union
    of sketches — raw is never rescanned."""
    from ..schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    stored = _drain_sink(
        _four_file_stream(ev),
        sketch_rollup_batch_fn,
        lambda t, c: read_fold_table(spark, t, c, _SKETCH),
    )
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
    return weekly_exact.join(weekly_est, "week").select(
        "week",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(8) + F.lit(5 * 0.016) * F.col("exact_users")
        ).alias("within_bound"),
    )


def cms_rollup_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining a COUNT-MIN-SKETCH rollup table:
    per micro-batch, the day-grain CMS grids of the arriving events
    (operators.sketches.cms_build) are appended, and readers sum them
    cell-wise — COUNTER maintenance
    (operators.rollups.counter_merge) applied to the frequency
    sketch. CMS counters are plain additive longs, so unlike the HLL
    dual (:func:`sketch_rollup_batch_fn`, whose estimate bytes are
    engine-specific) the maintained state is bit-reproducible: the
    final estimates equal the batch CMS query exactly, and the DuckDB
    oracle gates them by full value hash. Exactly-once by the module's
    commit protocol (:func:`append_fold_fn`)."""
    return append_fold_fn(
        commits_dir,
        (
            table_dir,
            _CMS,
            lambda b: cms_build(
                b.withColumn("day", F.to_date("ts")), "user_id", group_cols=("day",)
            ),
        ),
    )


def run_bounded_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`cms_rollup_batch_fn` over a bounded stream of the
    ``events`` table (:func:`_four_file_stream`), then point-estimate the exact top-20 users from the
    FINAL committed grid — the streaming dual of the batch
    ``sketch_cms_heavy_hitters``, and (because CMS counters are
    additive integers under the portable hash) its BIT-EQUAL dual:
    both run against the identical full-value-hash DuckDB oracle. At
    100 TB: every event folds into a fixed 4×1024-per-day grid once;
    estimates never rescan raw."""
    from ..schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    grid = cms_merge(
        _drain_sink(
            _four_file_stream(ev),
            cms_rollup_batch_fn,
            lambda t, c: read_fold_table(spark, t, c, _CMS),
        )
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(20)
    )
    return cms_estimate(grid, top, "user_id").select(
        "user_id",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_count")).alias("ge_exact"),
        (F.col("cms_estimate") - F.col("exact_count"))
        .cast("long")
        .alias("overestimate"),
    )


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
) -> DataFrame:
    """Drive :func:`cusum_stream` over the events table staged as 8
    GLOBALLY time-ordered files (3 per micro-batch) (named and mtime-pinned in
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
        F.expr(_VALUE_MICRO).alias("v_micro"),
    )
    # fixture staging: one global sort of the (small) verification
    # corpus into contiguous time slices — a real deployment's feed is
    # already offset-ordered per key, so this sort is the REPLAY
    # harness, not the operator
    sliced = e.withColumn(
        "slice",
        F.ntile(8).over(
            W.orderBy("ts", "event_id")
        ),
    )
    in_dir = _stage_ordered_files(
        "cusum_stream_in_",
        [sliced.filter(F.col("slice") == i).drop("slice") for i in range(1, 9)],
    )
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, v_micro bigint"
        )
        .option("maxFilesPerTrigger", 3)
        .parquet(in_dir)
    )
    emitted = _drain_memory(cusum_stream(stream, k_micro, h_micro), "update")
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
    table_dir: str, commits_dir: str, k: int = QSK_K
):
    """foreachBatch body maintaining a PER-DAY quantile-sample sketch
    table — the counter-merge protocol applied to the third mergeable
    sketch family (HLL distinct → CMS frequency → THIS for order
    statistics): per micro-batch, each day's k hash-smallest (h, v)
    rows from the arriving events are appended, and readers re-take k
    from their union — mergeability
    (operators.sketches.quantile_sample_sketch) guarantees the result
    equals the one-pass sketch of everything seen. Exactly-once by the
    module's commit protocol (:func:`append_fold_fn`). Each batch dir
    holds O(days × k) rows."""
    return append_fold_fn(
        commits_dir,
        (
            table_dir,
            _quantile_fold(k),
            lambda b: b.select(
                F.date_trunc("day", "ts").alias("day"),
                F.expr(kmv_hash_expr("CAST(event_id AS STRING)")).alias("h"),
                F.expr(_VALUE_MICRO).alias("v"),
            ),
        ),
    )


def run_bounded_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`quantile_sketch_rollup_batch_fn` over the bounded
    event stream to completion, then estimate each day's median and
    p90 from the FINAL committed sketch table, with the exact per-day
    percentiles computed query-time beside them (the KMV exactness
    discipline). Gated against a DuckDB oracle drawing the identical
    per-day hash sample — streaming maintenance ≡ one-pass sketch, by
    mergeability."""
    from ..schemas import load_table

    sk = _drain_sink(
        bounded_events_stream(spark, sf_dir),
        quantile_sketch_rollup_batch_fn,
        lambda t, c: read_fold_table(spark, t, c, _quantile_fold(QSK_K)),
    )
    est = sk.groupBy("day").agg(
        F.count("*").cast("int").alias("n_sample"),
        F.expr("percentile(v, 0.5)").alias("est_p50_micro"),
        F.expr("percentile(v, 0.9)").alias("est_p90_micro"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.expr(f"percentile({_VALUE_MICRO}, 0.5)").alias("exact_p50_micro"),
            F.expr(f"percentile({_VALUE_MICRO}, 0.9)").alias("exact_p90_micro"),
        )
    )
    return est.join(exact, "day")


def kmv_rollup_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining a PER-DAY KMV distinct sketch
    table — completing the streaming-maintained sketch family (HLL
    distinct / CMS frequency / quantile sample / THIS for md5-portable
    distinct counts whose estimator arithmetic is fully value-hash
    gated, unlike HLL's bound-pinned oracles): per micro-batch, each
    day's k smallest distinct user-day hashes from the arriving events
    are appended, and readers re-take k from the distinct union.
    Exactly-once by the module's commit protocol
    (:func:`append_fold_fn`); each batch dir holds O(days × k) int64s."""
    return append_fold_fn(
        commits_dir,
        (
            table_dir,
            _KMV,
            lambda b: b.select(
                F.date_trunc("day", "ts").alias("day"),
                F.expr(kmv_hash_expr(_USER_DAY_KEY)).alias("h"),
            ),
        ),
    )


def run_bounded_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`kmv_rollup_batch_fn` over the bounded event stream
    to completion, then per day report the KMV distinct-user-day
    estimate from the FINAL committed sketch beside the exact distinct
    count (query-time, the KMV discipline). By mergeability the final
    sketch equals the one-pass per-day sketch, which is what the
    serial oracle draws."""
    from ..schemas import load_table

    sk = _drain_sink(
        bounded_events_stream(spark, sf_dir),
        kmv_rollup_batch_fn,
        lambda t, c: read_fold_table(spark, t, c, _KMV),
    )
    est = sk.groupBy("day").agg(
        F.count("*").alias("n_sk"), F.max("h").alias("max_h")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count_distinct(F.expr(_USER_DAY_KEY))
            .cast("long")
            .alias("exact_user_days")
        )
    )
    return est.join(exact, "day").select(
        "day",
        F.col("n_sk").cast("int").alias("n_sketch"),
        kmv_estimate_col(F.col("n_sk"), F.col("max_h")).alias(
            "est_user_days"
        ),
        "exact_user_days",
    )


def psi_counts_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the PSI drift gate's 10-bucket
    (c_ref, c_cur) count table: per micro-batch the batch's
    conditional bucket counts (plans.analytics_queries.
    psi_bucket_counts — the SAME one-scan stage the batch query runs)
    are appended, and readers sum them. Exactly-once by the module's
    commit protocol (:func:`append_fold_fn`); counts are additive
    int64s, so replayed batches must not double-count — the
    high-watermark guard is the correctness, not just an optimization.
    Each batch dir: ≤ 10 rows."""
    from ..plans.analytics_queries import psi_bucket_counts

    return append_fold_fn(commits_dir, (table_dir, _PSI, psi_bucket_counts))


def auc_scores_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the exact-AUC score table: per
    micro-batch the batch's score-level (cnt, pos) collapse
    (plans.events_queries.model_scores_by_score — the SAME stage the
    batch AUC/PR-AUC/KS queries run) is appended, and readers sum it.
    Exactly-once by the module's commit protocol
    (:func:`append_fold_fn`) — counts are additive int64s, so the
    high-watermark replay guard IS the correctness. Each batch dir:
    distinct-score-sized (value-range bounded), never event-sized."""
    from ..plans.events_queries import model_scores_by_score

    return append_fold_fn(commits_dir, (table_dir, _AUC, model_scores_by_score))


def run_bounded_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`auc_scores_batch_fn` over the bounded event stream
    to completion, then compute the exact AUC from the FINAL committed
    score table via the identical tail the batch query uses
    (plans.events_queries.auc_from_by_score). The score table is
    additive and applied exactly-once, so the committed state EQUALS
    the batch collapse and the report is gated by the IDENTICAL
    oracle."""
    from ..plans.events_queries import auc_from_by_score

    return auc_from_by_score(
        _drain_sink(
            bounded_events_stream(
                spark, sf_dir, columns=("user_id", "ts", "event_type", "value")
            ),
            auc_scores_batch_fn,
            lambda t, c: read_fold_table(spark, t, c, _AUC),
        )
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

    return psi_from_counts(
        spark,
        _drain_sink(
            bounded_events_stream(spark, sf_dir),
            psi_counts_batch_fn,
            lambda t, c: read_fold_table(spark, t, c, _PSI),
        ),
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
    property every streaming sketch here shares.

    This sink stays on the versioned layout: the cap reads the merged
    state, so the merge is not a fold that :func:`append_fold_fn` could
    apply at read time. Nor does a one-bucket ``SnapshotTable`` fit:
    :func:`snapshot_merge_fn` passes no ``emptied_buckets``, so a
    summary whose counts all reached 0 would keep its previous rows."""
    summed = _sum_fold(("user_id",), ("cnt",))

    def merge(prev: DataFrame, counts: DataFrame) -> DataFrame:
        counts = summed(prev.unionByName(counts))
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
        commits_dir,
        (
            table_dir,
            _MG_SCHEMA,
            lambda b: b.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt")),
            merge,
        ),
    )


def run_bounded_mg_heavy_hitters(
    spark: SparkSession, sf_dir: str, inv_support: int
) -> DataFrame:
    """Drive :func:`mg_rollup_batch_fn` over a bounded replay of
    ``events`` (:func:`_four_file_stream`), then EXACT-verify the final
    committed candidate summary with one batch pass — the streaming
    dual of ``agg_heavy_hitters_two_pass``, sharing its oracle shape:
    the output is the exact heavy-hitter set at support 1/inv_support,
    so the DuckDB gate pins it by full value hash even though the
    maintained state is an approximate summary. At 100 TB: each event
    folds into a ≤ inv_support-row summary once; the verify pass
    shuffles candidate keys only."""
    from ..schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    candidates = _drain_sink(
        _four_file_stream(ev),
        lambda t, c: mg_rollup_batch_fn(t, c, k=inv_support),
        lambda t, c: _read_committed(spark, t, c, _MG_SCHEMA),
    ).select("user_id")
    total = ev.agg(F.count("*").alias("total"))
    return (
        ev.join(F.broadcast(candidates), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("exact_count"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") * inv_support > F.col("total"))
        .select("user_id", "exact_count")
    )


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

    docs = load_table(spark, sf_dir, "documents").select(*columns)
    return _file_stream(docs.repartition(8), 2)


def nb_counts_batch_fn(table_dir: str, commits_dir: str):
    """foreachBatch body maintaining the Naive-Bayes MODEL STATE on the
    stream: per micro-batch the batch's train-fold (lang, tok, cnt)
    multinomial counts and (lang, d_l) prior counts
    (plans.text_queries.nb_train_counts / nb_doc_counts — the SAME
    stages the batch classifier runs) are appended to the two tables
    ``<table_dir>/wl`` and ``<table_dir>/dl`` under ONE marker of the
    module's commit protocol (:func:`append_fold_fn`), and readers sum
    them — counts are additive int64s, so the high-watermark replay
    guard IS the correctness (a replayed batch must not double-count a
    word). Each batch dir: vocab×class-sized plus one row per class,
    never corpus-sized."""
    from ..plans.text_queries import nb_doc_counts, nb_split_docs, nb_train_counts

    def on_train(counts):
        return lambda b: counts(nb_split_docs(b).where(~F.col("is_test")))

    return append_fold_fn(
        commits_dir,
        (f"{table_dir}/wl", _NB["wl"], on_train(nb_train_counts)),
        (f"{table_dir}/dl", _NB["dl"], on_train(nb_doc_counts)),
    )


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

    wl, dl = _drain_sink(
        bounded_documents_stream(spark, sf_dir),
        nb_counts_batch_fn,
        lambda t, c: [
            read_fold_table(spark, f"{t}/{n}", c, spec) for n, spec in _NB.items()
        ],
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
    (first_doc_id = MIN, n_occurrences = SUM) — is appended, and readers
    fold the ledger with :func:`ledger_merge`. MIN and SUM are both
    order-free and batch-split-free, so the drained ledger EQUALS the
    batch derivation no matter how the corpus was micro-batched;
    exactly-once by the module's commit protocol
    (:func:`append_fold_fn` — a replayed batch must not double-count a
    chunk). Each batch writes O(batch) bytes however large the ledger
    has grown; :func:`compact_fold_tables` bounds the dirs a read
    folds. This is the production "ingest only what's new" shape: a
    chunk already in the ledger is a known duplicate the moment it
    arrives."""
    return append_fold_fn(
        commits_dir, (table_dir, _CHUNK_LEDGER, _chunk_ledger_delta)
    )


def _chunk_ledger_delta(docs: DataFrame) -> DataFrame:
    """A document batch's chunk-ledger contribution: one row per
    content-defined chunk hash (plans.text_queries.
    content_defined_chunks) with its MIN doc_id and occurrence COUNT."""
    from ..plans.text_queries import content_defined_chunks

    return (
        content_defined_chunks(docs)
        .groupBy("chunk_hash")
        .agg(
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
    )


def run_bounded_chunk_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive :func:`chunk_ledger_batch_fn` over the bounded document
    stream to completion and return the FINAL committed chunk ledger —
    gated against the oracle that derives the same (chunk_hash,
    first_doc_id, n_occurrences) table from the whole corpus at once."""
    return _drain_sink(
        bounded_documents_stream(spark, sf_dir, columns=("doc_id", "text")),
        chunk_ledger_batch_fn,
        lambda t, c: read_fold_table(spark, t, c, _CHUNK_LEDGER),
    )


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
    on a BUCKETED snapshot-manifest table — the partial-rewrite twin of
    the append ledger (:func:`chunk_ledger_batch_fn`): the ledger
    partitions by chunk-hash bucket, each micro-batch merges its delta
    into ONLY the buckets it touches, and untouched buckets carry
    forward by manifest reference with their files byte-identical
    (tests/test_snapshot.py pins this on the filesystem). The merge per
    bucket is the same order-free MIN/SUM as the append ledger's fold,
    so the drained ledger EQUALS the batch derivation — both gate
    against the identical oracle. Exactly-once by
    :func:`snapshot_merge_fn`."""
    return snapshot_merge_fn(
        table,
        _bucketed_ledger_delta(table),
        lambda prev, delta: ledger_merge(prev.unionByName(delta)),
    )


def _bucketed_ledger_delta(table):
    """``delta`` of the bucketed and LSM ledgers: the chunk-ledger
    delta with each chunk's ``bucket`` in ``table``."""
    from ..sources.snapshot import bucket_of

    bucket = bucket_of("chunk_hash", table.n_buckets)
    return lambda b: _chunk_ledger_delta(b).withColumn("bucket", bucket)


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
    Exactly-once by :func:`snapshot_merge_fn`: the applied batch id
    travels in the manifest as ``batch_hw``, separate from the snapshot
    id, so the PERIODIC MID-STREAM merge-compaction this fn runs
    (size-tiered: SnapshotTable.compact_buckets folds only buckets
    whose delta-file count crossed ``CHUNK_LEDGER_COMPACT_MAX_FILES``,
    carrying batch_hw forward) can claim snapshot ids between live
    batches without the replay guard silently dropping the next
    batch. A replayed batch appends nothing; its compaction pass finds
    no bucket over the tier unless a crash cut the previous pass short,
    which it then completes."""
    delta = _bucketed_ledger_delta(table)
    # one delta FILE per bucket per batch (not one per shuffle
    # partition): keeps the size-tier honest — file count grows with
    # BATCHES, not with parallelism
    append = snapshot_merge_fn(
        table, lambda b: delta(b).repartition("bucket"), None
    )

    def fn(batch: DataFrame, batch_id: int) -> None:
        append(batch, batch_id)
        # mid-stream size-tiered merge-compaction: bounds read
        # amplification to O(max_files) deltas per bucket while the
        # stream runs
        table.compact_buckets(
            batch.sparkSession,
            table.latest() + 1,
            max_files=CHUNK_LEDGER_COMPACT_MAX_FILES,
            fold=ledger_merge,
        )

    return fn


def ledger_merge(raw: DataFrame) -> DataFrame:
    """The ledger's fold: MIN first_doc_id / SUM n_occurrences per
    chunk hash (and per ``bucket`` when the rows carry one) over
    committed rows and deltas — associative and order-free, so any
    delta split yields the same merged ledger. The fold of the append
    ledger (:func:`chunk_ledger_batch_fn`), the merge of the bucketed
    one, the LSM reader, and its merge-compaction (which commits this
    fold back as the new base)."""
    keys = [c for c in raw.columns if c in ("bucket", "chunk_hash")]
    return raw.groupBy(*keys).agg(
        F.min("first_doc_id").cast("long").alias("first_doc_id"),
        F.sum("n_occurrences").cast("long").alias("n_occurrences"),
    )


#: the append table of :func:`chunk_ledger_batch_fn`
_CHUNK_LEDGER = Fold(
    "chunk_hash string, first_doc_id bigint, n_occurrences bigint", ledger_merge
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

    return _drain_sink(
        bounded_documents_stream(spark, sf_dir, columns=("doc_id", "text")),
        lambda t, _: chunk_ledger_lsm_batch_fn(
            SnapshotTable(t, _CHUNK_LEDGER_BUCKETED_SCHEMA, CHUNK_LEDGER_N_BUCKETS)
        ),
        lambda t, _: finalize_chunk_ledger_lsm(spark, SnapshotTable.open(t)),
    )


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
    if hw is None:  # zero micro-batches: empty corpus, empty ledger
        return spark.createDataFrame([], _CHUNK_LEDGER.schema)
    table.compact(spark, hw + 1, fold=ledger_merge)
    table.expire(keep_from=hw + 1)
    table.vacuum()
    return ledger_merge(table.read(spark)).drop("bucket")


#: the maintained view of the snapshot change-feed consumer: signed
#: per-status partials that add up, a status with no orders left
#: dropping out. Every prefix of the view's batches sums to a real view
#: state (no negative counts), so the filter is exact on what readers
#: and compaction fold. sum_dec rides a wide exact decimal end to end so
#: the Abelian add-then-subtract refresh cancels exactly (no float
#: drift).
_SNAPSHOT_VIEW = Fold(
    "o_orderstatus string, n_orders bigint, sum_dec decimal(38,4)",
    lambda rows: rows.groupBy("o_orderstatus")
    .agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("sum_dec").cast("decimal(38,4)").alias("sum_dec"),
    )
    .where(F.col("n_orders") > 0),
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
    The view is an append table (:data:`_SNAPSHOT_VIEW`): the first
    micro-batch seeds it with snapshot 0's partials as ``batch=0``, and
    each refresh appends the signed partials of (applied, target] as
    ``batch=<target>`` without reading the committed view.

    Scale: the downstream view of a 100 TB table refreshes per
    trigger by reading O(changed buckets); the full-table aggregation
    runs exactly once, at seed."""
    os.makedirs(commits_dir, exist_ok=True)

    def publish(partials: DataFrame, sid: int) -> None:
        partials.write.mode("overwrite").parquet(f"{view_dir}/batch={sid}")
        _commit(commits_dir, sid, [])

    def fn(batch: DataFrame, batch_id: int) -> None:
        # delivered snapshot ids: bounded driver state (one tiny row
        # per source snapshot, never data rows)
        sids = sorted({int(r["value"]) for r in batch.collect()})
        spark = batch.sparkSession
        applied = _high_watermark(commits_dir)
        if applied is None:  # seed: the one full pass, at snapshot 0
            publish(_snapshot_view_partials(table.read(spark, as_of=0), 1), 0)
            applied = 0
        targets = [s for s in sids if s > applied]
        if not targets:
            return  # replayed (possibly poisoned) ids: already folded
        target = max(targets)
        cb = table.changed_buckets(applied, target)
        publish(
            _snapshot_view_partials(
                table.read(spark, as_of=applied, buckets=cb), -1
            ).unionByName(
                _snapshot_view_partials(
                    table.read(spark, as_of=target, buckets=cb), 1
                )
            ),
            target,
        )

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
    from ..plans.source_queries import (
        _commit_upsert,
        _orders_upsert,
        _seed_orders_snapshot,
    )
    from ..sources.snapshot import bucket_of

    out = tempfile.mkdtemp(prefix="snap_view_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(out, "orders_snap")
    )
    # snapshot 1: partial-rewrite upsert, CAS-guarded
    _commit_upsert(
        spark, table, _orders_upsert(base), 1, expected_parent=table.latest()
    )
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
        .withColumn("bucket", bucket_of("o_orderkey", table.n_buckets)),
        3,
    )
    view_dir = os.path.join(out, "view")
    commits = os.path.join(out, "_commits")
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
    return read_fold_table(spark, view_dir, commits, _SNAPSHOT_VIEW).select(
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
    — same oracle as the append twin, so the partial-rewrite economics
    change nothing about the answer."""
    from ..sources.snapshot import SnapshotTable

    return _drain_sink(
        bounded_documents_stream(spark, sf_dir, columns=("doc_id", "text")),
        lambda t, _: chunk_ledger_bucketed_batch_fn(
            SnapshotTable(t, _CHUNK_LEDGER_BUCKETED_SCHEMA, CHUNK_LEDGER_N_BUCKETS)
        ),
        lambda t, _: SnapshotTable.open(t).read(spark).drop("bucket"),
    )
