"""Streaming ≡ batch equivalence (SURVEY §5.2): the windowed stateful
rollup over a bounded stream must equal the batch grouped sum on the
same inputs — the correctness argument for replacing the reference's
counter tables with Structured Streaming aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassaforte_meter_transmission_gen_spark.operators.rollups import rollup_chain
from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
    meter_samples_second,
)
from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
    run_bounded_rollup,
)


def _rows(df):
    return sorted((r["said"], r["datetime"], r["joules"]) for r in df.collect())


def _crash_before_marker(monkeypatch, marker):
    """Make the ``os.replace`` that publishes the commit marker
    ``marker`` raise: a crash after every table of its batch is
    written, before the commit point."""
    import os

    real_replace = os.replace

    def replace(src, dst):
        if dst == marker:
            raise RuntimeError(f"injected crash before publishing {marker}")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)


def test_streaming_minute_rollup_equals_batch(spark):
    streamed = run_bounded_rollup(spark, "1 minute", num_meters=2, seconds=1800)
    batch = rollup_chain(meter_samples_second(spark, num_meters=2, seconds=1800))[
        "minute"
    ]
    assert _rows(streamed) == _rows(batch)


def test_streaming_hour_rollup_equals_batch(spark):
    streamed = run_bounded_rollup(spark, "1 hour", num_meters=2, seconds=7200)
    batch = rollup_chain(meter_samples_second(spark, num_meters=2, seconds=7200))[
        "hour"
    ]
    assert _rows(streamed) == _rows(batch)


def test_rate_source_production_path(spark):
    """T1 (core.clj:173-176): the production-shaped unbounded source —
    ``rate`` paced at one row per meter per second, mapped to
    (said, datetime, watts). Run a few real micro-batches against the
    wall clock and check cadence invariants (schema, said range, 15k
    samples per transmission, golden joules value)."""
    import time

    from cassaforte_meter_transmission_gen_spark.functions.energy import (
        TICK_JOULES,
        joules_over_second,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        rate_transmission_stream,
    )

    stream = rate_transmission_stream(spark, num_meters=3, start_said=42000)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table("rate_smoke").count() < 6:
            time.sleep(0.5)
        got = spark.table("rate_smoke")
        rows = got.select(
            "said",
            F.size("watts").alias("n"),
            joules_over_second(F.col("watts")).alias("joules"),
        ).collect()
        assert len(rows) >= 6
        assert {r["said"] for r in rows} == {42000, 42001, 42002}
        assert all(r["n"] == 15000 for r in rows)
        assert all(r["joules"] == TICK_JOULES for r in rows)
    finally:
        q.stop()


def test_streaming_foreachbatch_ingest_equals_batch_ingest(spark, tmp_path):
    """K1-K5 as a LIVE sink: the foreachBatch five-table ingest over a
    bounded raw stream must leave every table byte-equal to the batch
    ingest over the same transmissions — raw appends, second-grain
    energy, and the three counter-merged grains."""
    from cassaforte_meter_transmission_gen_spark.operators.ingest import (
        ingest_batch,
        read_table,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        run_bounded_streaming_ingest,
    )

    n_meters, seconds = 2, 600
    stream_paths, commits = run_bounded_streaming_ingest(
        spark, str(tmp_path / "stream"), num_meters=n_meters, seconds=seconds
    )
    batch_paths = ingest_batch(
        spark, str(tmp_path / "batch"), num_meters=n_meters, seconds=seconds
    )

    for table in stream_paths:
        got = read_stream_table(spark, stream_paths, table, commits)
        want = read_table(spark, batch_paths, table)
        if table == "meter_samples":
            # arrays are identical by construction; compare scalars
            got = got.select("said", "datetime", F.size("watts").alias("n"))
            want = want.select("said", "datetime", F.size("watts").alias("n"))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), table


def test_streaming_ingest_finer_stage_files_equals_batch(spark, tmp_path):
    """The extended-curve staging knob (``stage_files`` — finer
    contiguous meter-time slices of identical shape, used by bench.py
    to push the micro-batch-size curve past the default 32-file stage)
    must not change WHAT is ingested: grain tables from a 64-file stage
    equal the batch-ingest dual exactly."""
    from cassaforte_meter_transmission_gen_spark.operators.ingest import (
        ingest_batch,
        read_table,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        run_bounded_streaming_ingest,
    )

    n_meters, seconds = 2, 600
    stream_paths, commits = run_bounded_streaming_ingest(
        spark,
        str(tmp_path / "stream"),
        num_meters=n_meters,
        seconds=seconds,
        max_files_per_trigger=16,
        stage_files=64,
    )
    batch_paths = ingest_batch(
        spark, str(tmp_path / "batch"), num_meters=n_meters, seconds=seconds
    )
    for table in ("meter_samples_second", "meter_samples_day"):
        got = read_stream_table(spark, stream_paths, table, commits)
        want = read_table(spark, batch_paths, table)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), table


def test_streaming_ingest_keeps_caller_owned_stage(spark, tmp_path, monkeypatch):
    """A caller-passed ``stage_dir`` is reused across calls (bench.py's
    trigger-size sweep stages once), so the ingest must leave it in
    place: a second call over the same stage skips generation — here
    generation raises — and still drains every staged row."""
    import os

    from cassaforte_meter_transmission_gen_spark.sources import meter_generator
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        run_bounded_streaming_ingest,
    )

    stage = str(tmp_path / "stage")
    run_bounded_streaming_ingest(
        spark, str(tmp_path / "a"), num_meters=1, seconds=120, stage_dir=stage
    )
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))

    def regenerate(*_args, **_kwargs):
        raise AssertionError("the caller-owned stage was generated again")

    monkeypatch.setattr(meter_generator, "transmissions", regenerate)
    paths, commits = run_bounded_streaming_ingest(
        spark, str(tmp_path / "b"), num_meters=1, seconds=120, stage_dir=stage
    )
    second = read_stream_table(spark, paths, "meter_samples_second", commits)
    assert second.count() == 120


def test_streaming_session_window_equals_batch_sessionization(spark, sf_small):
    """T6: the native session_window stateful aggregation must produce
    the same sessions as the batch lag/running-sum sessionization
    (events_sessionization_30m) — keyed by (user_id, session_start),
    with identical event counts and value sums."""
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        run_bounded_sessions,
    )

    # round the value sum: the streaming path sums doubles (summation
    # order differs per micro-batch), the batch oracle sums decimals
    streamed = run_bounded_sessions(spark, sf_small, "30 minutes")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], round(float(r["total_value"]), 3))
        for r in streamed.collect()
    }
    batch = REGISTRY["events_sessionization_30m"].fn(spark, sf_small)
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], round(float(r["total_value"]), 3))
        for r in batch.collect()
    }
    assert got == want


def test_watermark_drops_late_rows(spark):
    """T2 extension: configurable lateness on a 1-minute tumbling
    rollup with a 30 s watermark, ordered micro-batches (append mode).

    Spark's semantics (verified empirically): a row behind the
    watermark is dropped only once its window has been EVICTED from
    the state store — eviction happens at the end of the batch where
    watermark > window end, emitting the window. So:

      batch 0: said 1, seconds 0..119 (joules 1 each) → wm for next: 89
      batch 1: on-time second 150 → minute 0 (end 60 < 89) evicted,
               emitted with 60; wm for next: 120
      batch 2: LATE row at second 10 — minute 0 already evicted →
               dropped, minute 0 NOT re-emitted
      batch 3: second 400; final no-data batch flushes minute 1 & 2

    Output: minute 0 exactly once with 60 (late row dropped), minute 1
    with 60, minute 2 (the second-150 row) with 1."""
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        run_late_data_rollup,
    )
    import datetime as dt

    batches = [
        [(1, s, 1) for s in range(120)],
        [(1, 150, 1)],
        [(1, 10, 1)],
        [(1, 400, 1)],
    ]
    out = run_late_data_rollup(spark, batches, delay="30 seconds", grain="1 minute")
    rows = out.collect()
    got = {r["datetime"]: r["joules"] for r in rows}
    t0 = dt.datetime.fromtimestamp(T0_EPOCH, dt.timezone.utc).replace(tzinfo=None)
    m0, m1, m2 = (t0 + dt.timedelta(minutes=k) for k in range(3))
    assert got[m0] == 60  # late second-10 row dropped, not 61
    assert sum(1 for r in rows if r["datetime"] == m0) == 1  # no re-emission
    assert got[m1] == 60
    assert got[m2] == 1


def test_stateful_cumulative_counter_equals_batch_total(spark):
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        run_bounded_cumulative,
    )

    emitted = run_bounded_cumulative(spark, num_meters=3, seconds=1800).collect()
    # one checkpoint per meter per micro-batch; micro-batch file order
    # is not event-time order, so "final" = the max counter value
    final: dict[int, int] = {}
    for r in emitted:
        final[r["said"]] = max(final.get(r["said"], 0), r["cumulative_joules"])
    batch = {
        r["said"]: r["total"]
        for r in meter_samples_second(spark, num_meters=3, seconds=1800)
        .groupBy("said")
        .agg(F.sum("joules").cast("long").alias("total"))
        .collect()
    }
    assert final == batch
    # multiple micro-batches actually exercised state carry-over
    assert len(emitted) > len(final)


def test_streaming_ingest_replay_is_exactly_once(spark, tmp_path):
    """The batch-id commit protocol (T5 hardened): re-delivering a
    committed batch is a no-op, and replaying a batch whose crash lost
    the commit marker re-merges from the same committed base — so the
    grain totals are identical either way, never double-counted."""
    import os

    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(paths, commits)

    b0 = transmissions(spark, num_meters=2, seconds=60)
    b1 = transmissions(spark, num_meters=2, seconds=60, t0_epoch=1356998400 + 60)
    fn(b0, 0)
    fn(b1, 1)

    def snap():
        return {
            t: sorted(
                map(tuple, read_stream_table(spark, paths, t, commits)
                    .drop("watts").collect())
            )
            for t in TABLES
        }

    committed = snap()

    # case 1: re-delivery of a committed batch is a pure no-op
    fn(b1, 1)
    assert snap() == committed

    # case 2: crash lost the marker AFTER the writes — replay must
    # rewrite batch 1's own dirs, not double-apply them
    os.remove(os.path.join(commits, "1"))
    fn(b1, 1)
    assert snap() == committed


def test_uncommitted_batch_is_invisible_to_readers(spark, tmp_path, monkeypatch):
    """The reader side of the commit protocol: a batch whose tables are
    fully written but whose marker never landed (crash at the worst
    point) must be invisible through read_stream_table for EVERY table
    — raw/second included, not just the versioned grains."""
    import os

    import pytest

    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(paths, commits)
    fn(transmissions(spark, num_meters=2, seconds=60), 0)
    _crash_before_marker(monkeypatch, os.path.join(commits, "1"))
    with pytest.raises(RuntimeError, match="injected crash"):
        fn(
            transmissions(spark, num_meters=2, seconds=60, t0_epoch=T0_EPOCH + 60),
            1,
        )
    monkeypatch.undo()
    # batch 1's data is on disk, but uncommitted → readers see batch 0 only
    assert os.path.isdir(f"{paths['meter_samples_second']}/batch=1")
    for t in ("meter_samples", "meter_samples_second"):
        assert read_stream_table(spark, paths, t, commits).count() == 2 * 60, t
    minute = read_stream_table(spark, paths, "meter_samples_minute", commits)
    assert minute.count() == 2 * 1  # one committed minute per meter


def test_restart_after_crash_is_exactly_once(spark, tmp_path, monkeypatch):
    """T5 under an ACTUAL failure (reference behavior: core.clj:80-85
    fire-and-forget; ours claims strictly stronger): crash the stream
    after batch 1's five tables are written but before its commit
    marker, restart from the same checkpoint, and the final state must
    equal the batch-ingest truth with zero duplicate (said, datetime)
    keys in every table — the replayed batch overwrites itself instead
    of double-applying."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from cassaforte_meter_transmission_gen_spark.operators.ingest import (
        TABLES,
        ingest_batch,
        read_table,
    )
    from cassaforte_meter_transmission_gen_spark.schemas import METER_SAMPLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _high_watermark,
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    n_meters, seconds = 2, 600
    stage = str(tmp_path / "stage")
    transmissions(
        spark, num_meters=n_meters, seconds=seconds, slices=32
    ).write.parquet(stage)

    def stream():
        return (
            spark.readStream.schema(METER_SAMPLES)
            .option("maxFilesPerTrigger", 8)
            .parquet(stage)
        )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    ckpt = str(tmp_path / "_ckpt")  # SHARED across both runs — the restart

    # run 1: dies mid-stream at the worst crash point of batch 1
    _crash_before_marker(monkeypatch, os.path.join(commits, "1"))
    q1 = (
        stream()
        .writeStream.foreachBatch(streaming_ingest_batch_fn(paths, commits))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q1.awaitTermination()
    monkeypatch.undo()
    assert _high_watermark(commits) == 0  # batch 0 landed, batch 1 did not
    partial = read_stream_table(spark, paths, "meter_samples_second", commits).count()
    assert 0 < partial < n_meters * seconds  # mid-stream, reader-consistent

    # run 2: same checkpoint, fault cleared → Spark replays batch 1 and
    # drains the rest
    q2 = (
        stream()
        .writeStream.foreachBatch(streaming_ingest_batch_fn(paths, commits))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    truth_paths = ingest_batch(
        spark, str(tmp_path / "truth"), num_meters=n_meters, seconds=seconds
    )
    for t in TABLES:
        got = read_stream_table(spark, paths, t, commits)
        dups = (
            got.groupBy("said", "datetime").count().filter("count > 1").count()
        )
        assert dups == 0, f"{t}: duplicate (said, datetime) keys after restart"
        want = read_table(spark, truth_paths, t)
        if t == "meter_samples":
            got = got.select("said", "datetime", F.size("watts").alias("n"))
            want = want.select("said", "datetime", F.size("watts").alias("n"))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), t


def test_version_and_marker_retention(spark, tmp_path):
    """Long-running hygiene: commit markers retain only the newest
    `retain_versions`; the surviving max marker still carries the full
    committed set (high-watermark semantics), so reads stay complete
    after pruning. The grains keep no versions: each batch appends one
    `batch=` dir."""
    import os

    from cassaforte_meter_transmission_gen_spark.functions.energy import TICK_JOULES
    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _committed_batches,
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(paths, commits, retain_versions=3)
    for i in range(6):
        fn(
            transmissions(
                spark, num_meters=1, seconds=30, t0_epoch=T0_EPOCH + i * 30
            ),
            i,
        )
    assert _committed_batches(commits) == [3, 4, 5]
    for g in ("minute", "hour", "day"):
        dirs = sorted(os.listdir(paths[f"meter_samples_{g}"]))
        assert dirs == [f"batch={i}" for i in range(6)], g
    # the retained head still covers every batch ever committed
    minute = read_stream_table(spark, paths, "meter_samples_minute", commits)
    assert minute.groupBy().sum("joules").first()[0] == 6 * 30 * TICK_JOULES


def test_compaction_bounds_batch_dirs(spark, tmp_path):
    """The small-file story for the unbounded runner: every
    `compact_every` commits the old batch dirs of every table fold
    into one segment; readers lose nothing, and dirs older than the
    previous segment are deleted — file count is bounded by the
    compaction period, not stream history."""
    import os

    from cassaforte_meter_transmission_gen_spark.functions.energy import TICK_JOULES
    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        GRAIN_TABLES,
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(
        paths, commits, compact_every=3, compact_keep_batches=1
    )
    for i in range(10):
        fn(
            transmissions(
                spark, num_meters=1, seconds=20, t0_epoch=T0_EPOCH + i * 20
            ),
            i,
        )
    for t in ("meter_samples_second", *GRAIN_TABLES):
        batch_dirs = sorted(
            int(d[6:]) for d in os.listdir(paths[t]) if d.startswith("batch=")
        )
        assert batch_dirs == [6, 7, 8, 9], t  # 0..5 folded into segments
        segs = sorted(os.listdir(os.path.join(paths[t], "_compacted")))
        assert segs == ["upto=5", "upto=8"], t  # current + previous retained
    # nothing lost, nothing doubled
    got = read_stream_table(spark, paths, "meter_samples_second", commits)
    assert got.count() == 10 * 20
    assert got.select("datetime").distinct().count() == 10 * 20
    for t in GRAIN_TABLES:
        grain = read_stream_table(spark, paths, t, commits)
        assert grain.groupBy().sum("joules").first()[0] == 10 * 20 * TICK_JOULES, t
        # the segment holds the folded sums: one row per (said, datetime)
        seg = spark.read.parquet(os.path.join(paths[t], "_compacted", "upto=8"))
        assert seg.count() == seg.select("said", "datetime").distinct().count(), t


def test_compaction_crash_before_publish_is_invisible(spark, tmp_path, monkeypatch):
    """T5's worst compaction crash: the segment temp dir is fully
    written but the process dies BEFORE the atomic ``os.replace``
    publish. The previous state must stay authoritative (readers see
    exactly-once data throughout), and the next compaction cycle must
    recover — GC'ing the orphaned temp dir and publishing cleanly."""
    import os
    import shutil

    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        compact_stream_tables,
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(paths, commits)
    for i in range(8):
        fn(
            transmissions(spark, num_meters=1, seconds=20, t0_epoch=T0_EPOCH + i * 20),
            i,
        )

    real_replace = os.replace

    def dying_replace(src, dst):
        if "_compacted" in str(dst):
            raise RuntimeError("injected crash before segment publish")
        return real_replace(src, dst)

    import pytest

    monkeypatch.setattr(os, "replace", dying_replace)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_stream_tables(spark, paths, commits, keep_batches=2)
    monkeypatch.setattr(os, "replace", real_replace)

    # the crash hit the FIRST table's publish: its orphan temp exists,
    # no segment was published anywhere, every batch dir survives — and
    # every reader sees exactly the committed rows
    raw_root = os.path.join(paths["meter_samples"], "_compacted")
    assert any(d.startswith(".tmp_upto=") for d in os.listdir(raw_root))
    assert not any(d.startswith("upto=") for d in os.listdir(raw_root))
    assert not os.path.exists(
        os.path.join(paths["meter_samples_second"], "_compacted")
    )
    for t in ("meter_samples", "meter_samples_second"):
        got = read_stream_table(spark, paths, t, commits)
        assert got.count() == 8 * 20, t
        assert got.select("datetime").distinct().count() == 8 * 20, t

    # recovery: the next cycle GCs the orphan and publishes both tables
    compact_stream_tables(spark, paths, commits, keep_batches=2)
    for t in ("meter_samples", "meter_samples_second"):
        root = os.path.join(paths[t], "_compacted")
        assert not any(d.startswith(".tmp_upto=") for d in os.listdir(root))
        assert sorted(os.listdir(root)) == ["upto=5"], t
        got = read_stream_table(spark, paths, t, commits)
        assert got.count() == 8 * 20, t
        assert got.select("datetime").distinct().count() == 8 * 20, t
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_reader_survives_concurrent_compaction_cycle(spark, tmp_path):
    """The bounded reader-race window T5 documents: a reader that
    resolved its file list BEFORE a compaction cycle must stay valid
    WHILE that cycle rewrites the table — the cycle only deletes batch
    dirs the retained previous segment covers, which the reader (who
    resolved that segment or newer) never references. Polling during
    and after the cycle must neither error nor see partial data."""
    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(
        paths, commits, compact_every=3, compact_keep_batches=1
    )
    for i in range(10):
        fn(
            transmissions(spark, num_meters=1, seconds=20, t0_epoch=T0_EPOCH + i * 20),
            i,
        )
    # reader resolves NOW: segment upto=8 + batch dir 9
    reader = read_stream_table(spark, paths, "meter_samples_second", commits)
    assert reader.count() == 10 * 20  # first poll, pre-compaction

    # three more commits trigger the next compaction cycle (at id 12):
    # new segment upto=11, batch dirs <= 8 deleted, segment upto=5
    # dropped — everything the reader references survives
    for i in range(10, 13):
        fn(
            transmissions(spark, num_meters=1, seconds=20, t0_epoch=T0_EPOCH + i * 20),
            i,
        )
    assert reader.count() == 10 * 20  # same snapshot, no error, no loss
    assert reader.select("datetime").distinct().count() == 10 * 20
    # a fresh resolution sees the post-compaction state, still exact
    fresh = read_stream_table(spark, paths, "meter_samples_second", commits)
    assert fresh.count() == 13 * 20
    assert fresh.select("datetime").distinct().count() == 13 * 20


def test_append_fold_sink_compacts_every_compact_every_batches(spark, tmp_path):
    """An append-fold sink compacts its own tables: at batch id
    ``COMPACT_EVERY`` the chunk ledger folds its old batch dirs into
    ``_compacted/upto=<COMPACT_EVERY - COMPACT_KEEP_BATCHES>``, and its
    committed ledger reads the same as the one the same two batches
    leave under ids 0 and 1, where nothing compacts. The replay guard
    only skips ids ≤ the high watermark, so the two batches need no
    ids in between."""
    import os

    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _CHUNK_LEDGER,
        COMPACT_EVERY,
        COMPACT_KEEP_BATCHES,
        chunk_ledger_batch_fn,
        read_fold_table,
    )

    batches = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in (
            [(10, "alpha beta"), (11, "alpha")],
            [(12, "beta gamma"), (13, "alpha")],
        )
    ]

    def ledger(root, ids):
        table, commits = f"{root}/ledger", f"{root}/_commits"
        fn = chunk_ledger_batch_fn(table, commits)
        for b, batch_id in zip(batches, ids):
            fn(b, batch_id)
        rows = read_fold_table(spark, table, commits, _CHUNK_LEDGER).collect()
        return table, sorted(map(tuple, rows))

    _, want = ledger(tmp_path / "plain", (0, 1))
    table, got = ledger(tmp_path / "cadence", (0, COMPACT_EVERY))
    upto = COMPACT_EVERY - COMPACT_KEEP_BATCHES
    assert os.listdir(f"{table}/_compacted") == [f"upto={upto}"]
    assert got == want
    assert not os.path.exists(f"{tmp_path}/plain/ledger/_compacted")


def test_streaming_interval_join_equals_batch(spark, sf_small):
    """The stream-stream interval join must produce exactly the batch
    range join's pairs on the same events — every (purchase, click ≤
    30 min before it, same user) pair, no more, no fewer."""
    from cassaforte_meter_transmission_gen_spark.schemas import load_table
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        run_bounded_interval_join,
    )

    streamed = run_bounded_interval_join(spark, sf_small, "30 minutes")
    ev = load_table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    batch = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 30 minutes"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).select("user_id", "purchase_id", "click_id")
    got = sorted(map(tuple, streamed.select("user_id", "purchase_id", "click_id").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_streaming_dedup_suppresses_retry_duplicates(spark):
    """The at-least-once guard (reference core.clj:80-85: failures only
    logged, client retries re-send whole transmissions): with every 3rd
    row staged twice, dropDuplicatesWithinWatermark must emit exactly
    one row per (said, datetime) — byte-equal to the clean batch table."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        run_bounded_dedup_ingest,
    )

    n_meters, seconds = 2, 600
    got = run_bounded_dedup_ingest(
        spark, num_meters=n_meters, seconds=seconds, dup_fraction=3
    )
    want = meter_samples_second(spark, num_meters=n_meters, seconds=seconds)
    assert got.count() == n_meters * seconds  # duplicates gone, nothing lost
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_read_stream_table_refuses_uncommitted_state(spark, tmp_path, monkeypatch):
    """Before any commit marker exists, every table read must refuse
    loudly (FileNotFoundError) rather than return partial data — even
    if uncommitted batch directories are already on disk."""
    import os

    import pytest

    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(paths, commits)
    _crash_before_marker(monkeypatch, os.path.join(commits, "0"))
    with pytest.raises(RuntimeError, match="injected crash"):
        fn(transmissions(spark, num_meters=1, seconds=30), 0)
    monkeypatch.undo()
    for t in ("meter_samples_second", "meter_samples_minute"):
        with pytest.raises(FileNotFoundError, match="no committed"):
            read_stream_table(spark, paths, t, commits)


def test_read_stream_table_compacted_only_state(spark, tmp_path):
    """After compaction has folded EVERY batch dir into a segment (no
    per-batch dirs newer than the segment), raw/second reads must
    resolve from the segment alone."""
    import os
    import shutil

    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        compact_stream_tables,
        read_stream_table,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        streaming_ingest_batch_fn,
    )

    paths = {t: str(tmp_path / t) for t in TABLES}
    commits = str(tmp_path / "_commits")
    fn = streaming_ingest_batch_fn(paths, commits)
    for i in range(3):
        fn(
            transmissions(spark, num_meters=1, seconds=20, t0_epoch=T0_EPOCH + i * 20),
            i,
        )
    # fold everything (keep_batches=0 → upto == high-watermark)
    compact_stream_tables(spark, paths, commits, keep_batches=0)
    second_path = paths["meter_samples_second"]
    # simulate the steady state where even recent dirs were removed by
    # a later cycle: nothing newer than the segment remains
    for d in os.listdir(second_path):
        if d.startswith("batch="):
            shutil.rmtree(os.path.join(second_path, d))
    got = read_stream_table(spark, paths, "meter_samples_second", commits)
    assert got.count() == 3 * 20


def test_sketch_rollup_replay_is_exactly_once(spark, tmp_path):
    """The sketch counter-merge must be idempotent under batch replay:
    re-delivering a committed batch id is a no-op (marker short-
    circuit), and the merged estimate equals the union of the distinct
    batches — a double-merge would NOT change an HLL union's estimate
    for identical values, so the gate instead replays a batch with
    DIFFERENT values under the same id: exactly-once means those new
    values must NOT appear."""
    import pyspark.sql.functions as F

    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _SKETCH,
        read_fold_table,
        sketch_rollup_batch_fn,
    )

    table = str(tmp_path / "day_sketches")
    commits = str(tmp_path / "_commits")
    fn = sketch_rollup_batch_fn(table, commits)

    def batch(users):
        return spark.createDataFrame(
            [("2024-01-01 00:00:00", u) for u in users], "ts string, user_id long"
        ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id")

    fn(batch(range(0, 100)), 0)
    fn(batch(range(100, 200)), 1)
    # replay id 1 with NEW users — must be ignored entirely
    fn(batch(range(200, 300)), 1)

    stored = read_fold_table(spark, table, commits, _SKETCH)
    est = stored.select(
        F.hll_sketch_estimate("user_sketch").alias("e")
    ).first()["e"]
    # 200 distinct users; HLL lgK=12 rse ~1.6% — 300 would mean the
    # replayed batch leaked in
    assert abs(est - 200) <= 8 + 5 * 0.016 * 200, est


def test_cms_rollup_replay_is_exactly_once(spark, tmp_path):
    """The CMS counter-merge must be idempotent under batch replay —
    and unlike the HLL dual this gate is EXACT: CMS counters are
    additive, so a double-merged batch shifts the grid mass
    deterministically. After batches of 100 rows each and a replay of
    batch 1 (same id), every hash row's total counter mass must equal
    exactly 200 events — 300 would mean the replay leaked in."""
    import pyspark.sql.functions as F

    from cassaforte_meter_transmission_gen_spark.operators.sketches import (
        CMS_DEPTH,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _CMS,
        cms_rollup_batch_fn,
        read_fold_table,
    )

    table = str(tmp_path / "day_grids")
    commits = str(tmp_path / "_commits")
    fn = cms_rollup_batch_fn(table, commits)

    def batch(users):
        return spark.createDataFrame(
            [("2024-01-01 00:00:00", u) for u in users], "ts string, user_id long"
        ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id")

    fn(batch(range(0, 100)), 0)
    fn(batch(range(100, 200)), 1)
    fn(batch(range(100, 200)), 1)  # replayed — must be a no-op
    fn(batch(range(900, 1000)), 1)  # late replay with NEW values — ditto

    stored = read_fold_table(spark, table, commits, _CMS)
    mass = {
        r["r"]: r["m"]
        for r in stored.groupBy("r").agg(F.sum("cnt").alias("m")).collect()
    }
    assert mass == {r: 200 for r in range(CMS_DEPTH)}, mass


#: the SCD2 history of a (k, v) feed, bucketed
_SCD2_HISTORY = (
    "bucket int, k bigint, v string, valid_from_seq int, valid_to_seq int,"
    " is_current boolean"
)


def _scd2_table(tmp_path):
    """A one-bucket SCD2 history table over (k, v)."""
    from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
        SnapshotTable,
    )

    return SnapshotTable(str(tmp_path / "hist"), _SCD2_HISTORY, 1)


def test_scd2_maintenance_replay_and_chaining(spark, tmp_path):
    """Streaming SCD2 maintenance (scd2_bucketed_batch_fn on a
    one-bucket table): versions chain across micro-batches (the
    committed open version is carried into the next batch's window),
    deletes close without opening, and a replayed batch id — even with
    DIFFERENT rows — is a no-op."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        scd2_bucketed_batch_fn,
    )

    schema_feed = "k bigint, v string, seq int, op string"
    table = _scd2_table(tmp_path)
    fn = scd2_bucketed_batch_fn(table, "k", ["k", "v"])

    def batch(rows):
        return spark.createDataFrame(rows, schema_feed)

    # batch 0: snapshot seeds keys 1, 2 at seq 0
    fn(batch([(1, "a", 0, "u"), (2, "b", 0, "u")]), 0)
    # batch 1: update key 1, delete key 2
    fn(batch([(1, "a1", 1, "u"), (2, "b", 1, "d")]), 1)
    # batch 2: second update of key 1 (chains onto the batch-1 version)
    fn(batch([(1, "a2", 2, "u")]), 2)
    # replay batch 2 with different content — must be ignored
    fn(batch([(1, "POISON", 2, "u")]), 2)

    hist = {
        (r.k, r.valid_from_seq): r
        for r in table.read(spark).drop("bucket").collect()
    }
    assert len(hist) == 4  # three versions of key 1, one closed of key 2
    assert (hist[(1, 0)].v, hist[(1, 0)].valid_to_seq) == ("a", 1)
    assert (hist[(1, 1)].v, hist[(1, 1)].valid_to_seq) == ("a1", 2)
    assert (hist[(1, 2)].v, hist[(1, 2)].valid_to_seq, hist[(1, 2)].is_current) == (
        "a2", None, True,
    )
    assert (hist[(2, 0)].valid_to_seq, hist[(2, 0)].is_current) == (1, False)
    assert not any(r.v == "POISON" for r in hist.values())


def test_scd2_redelivered_seq_under_new_batch_id_is_noop(spark, tmp_path):
    """At-least-once guard (judge ADVICE r8): an already-applied seq
    redelivered under a NEW batch id must be dropped before the
    chaining window — otherwise it ties with the carried open version
    and lead() over the tie is nondeterministic (zero-width or
    duplicate versions). The history must be byte-identical to the
    no-redelivery run, with no valid_from_seq == valid_to_seq rows."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        scd2_bucketed_batch_fn,
    )

    schema_feed = "k bigint, v string, seq int, op string"
    table = _scd2_table(tmp_path)
    fn = scd2_bucketed_batch_fn(table, "k", ["k", "v"])

    def batch(rows):
        return spark.createDataFrame(rows, schema_feed)

    fn(batch([(1, "a", 0, "u"), (2, "b", 0, "u")]), 0)
    fn(batch([(1, "a1", 1, "u")]), 1)
    # batch 2 REDELIVERS key 1's seq-1 event (and key 2's stale seq 0)
    # alongside one genuinely new event for key 2
    fn(batch([(1, "a1", 1, "u"), (2, "b", 0, "u"), (2, "b2", 2, "u")]), 2)

    rows = table.read(spark).drop("bucket").collect()
    hist = {(r.k, r.valid_from_seq): r for r in rows}
    assert len(rows) == len(hist) == 4  # no duplicate versions
    assert all(
        r.valid_to_seq is None or r.valid_to_seq > r.valid_from_seq
        for r in rows
    )  # no zero-width versions
    assert (hist[(1, 1)].v, hist[(1, 1)].is_current) == ("a1", True)
    assert (hist[(2, 0)].valid_to_seq, hist[(2, 0)].is_current) == (2, False)
    assert (hist[(2, 2)].v, hist[(2, 2)].is_current) == ("b2", True)


def test_quantile_sketch_rollup_replay_is_noop(spark, tmp_path):
    """Per-day quantile-sketch maintenance: batches merge by union +
    re-take-k, and a replayed batch id — even with POISON rows — is
    ignored (the exactly-once discipline every sketch rollup carries).
    The final committed sketch equals the one-pass per-day sample."""
    import pyspark.sql.functions as F

    from cassaforte_meter_transmission_gen_spark.operators.sketches import (
        kmv_hash_expr,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _quantile_fold,
        quantile_sketch_rollup_batch_fn,
        read_fold_table,
    )

    schema = "user_id bigint, ts timestamp, event_id bigint, value double"
    table = str(tmp_path / "sk")
    commits = str(tmp_path / "_commits")
    fn = quantile_sketch_rollup_batch_fn(table, commits, k=8)

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    import datetime as dt

    d0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(i % 5, d0 + dt.timedelta(seconds=i), i, float(i)) for i in range(30)]
    fn(batch(rows[:15]), 0)
    fn(batch(rows[15:]), 1)
    fn(batch([(9, d0, 999, 1e9)]), 1)  # replay with poison — must no-op

    got = sorted(
        (r.h, r.v)
        for r in read_fold_table(spark, table, commits, _quantile_fold(8)).collect()
    )
    onepass = (
        batch(rows)
        .select(
            F.expr(kmv_hash_expr("CAST(event_id AS STRING)")).alias("h"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            ).alias("v"),
        )
        .orderBy("h", "v")
        .limit(8)
    )
    expected = sorted((r.h, r.v) for r in onepass.collect())
    assert got == expected
    assert not any(v == 10**15 for _, v in got)  # poison absent


def test_psi_counts_replay_is_exactly_once(spark, tmp_path):
    """PSI bucket counts are ADDITIVE, so the replay guard carries the
    whole correctness: re-delivering a committed batch id (with
    different rows, the adversarial case) must change nothing, and the
    committed table must equal the serial sum of the distinct
    batches."""
    import pyspark.sql.functions as F

    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _PSI,
        psi_counts_batch_fn,
        read_fold_table,
    )

    table = str(tmp_path / "bucket_counts")
    commits = str(tmp_path / "_commits")
    fn = psi_counts_batch_fn(table, commits)

    def batch(rows):
        # (value, day-of-month) pairs on a fixed date skeleton
        return spark.createDataFrame(
            [(v, f"2024-01-{d:02d} 12:00:00") for v, d in rows],
            "value double, ts string",
        ).select("value", F.col("ts").cast("timestamp").alias("ts"))

    # batch 0: 3 ref-week rows in bucket 0, 1 cur-week row in bucket 9
    fn(batch([(1.0, 1), (2.0, 2), (3.0, 3), (999.0, 25)]), 0)
    # batch 1: 2 more cur-week rows in bucket 1
    fn(batch([(60.0, 23), (70.0, 28)]), 1)
    # replay id 1 with DIFFERENT rows — must be ignored entirely
    fn(batch([(60.0, 23)] * 50), 1)

    got = {
        r["bucket"]: (r["c_ref"], r["c_cur"])
        for r in read_fold_table(spark, table, commits, _PSI).collect()
    }
    assert got == {0: (3, 0), 9: (0, 1), 1: (0, 2)}


def _mg_table(tmp_path):
    """A one-bucket Misra–Gries summary table."""
    from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
        SnapshotTable,
    )

    return SnapshotTable(
        str(tmp_path / "mg_summary"), "bucket int, user_id long, cnt long", 1
    )


def _user_batch(spark):
    return lambda users: spark.createDataFrame([(u,) for u in users], "user_id long")


def test_mg_rollup_replay_is_exactly_once_and_capped(spark, tmp_path):
    """The streaming Misra–Gries merge must (a) be a no-op on replayed
    batch ids — counts are additive, so a leaked replay shifts them
    deterministically — and (b) keep the committed summary ≤ k rows
    while never losing a true heavy hitter: a key fed in every batch at
    high rate must survive with a count no greater than its true count
    (MG undercounts, never overcounts)."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        mg_rollup_batch_fn,
    )

    table = _mg_table(tmp_path)
    fn = mg_rollup_batch_fn(table, k=5)
    batch = _user_batch(spark)

    fn(batch([7] * 30 + list(range(100, 120))), 0)
    fn(batch([7] * 30 + list(range(200, 220))), 1)
    fn(batch([7] * 30 + list(range(200, 220))), 1)  # replay — no-op
    fn(batch([7] * 999), 1)  # late replay, new values — ditto

    stored = {
        r["user_id"]: r["cnt"] for r in table.read(spark).drop("bucket").collect()
    }
    assert len(stored) <= 5
    # key 7: true count 60 across both committed batches; MG may have
    # subtracted but never added — and at 60/100 support it MUST survive
    assert 0 < stored[7] <= 60
    assert 60 > 100 // (5 + 1)  # sanity: above the guarantee line


def test_mg_rollup_batch_that_caps_every_count_empties_the_summary(
    spark, tmp_path
):
    """A batch of k+1 distinct users, each seen once, caps every merged
    count to 0 when the committed summary holds counts of 1: the
    committed summary must then be empty, not the previous one."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        mg_rollup_batch_fn,
    )

    table = _mg_table(tmp_path)
    fn = mg_rollup_batch_fn(table, k=3)
    batch = _user_batch(spark)
    fn(batch([1, 2]), 0)
    assert sorted(map(tuple, table.read(spark).drop("bucket").collect())) == [
        (1, 1),
        (2, 1),
    ]
    fn(batch([10, 11, 12, 13]), 1)
    assert table.batch_high_watermark() == 1
    assert table.read(spark).count() == 0


def test_auc_scores_replay_is_exactly_once(spark, tmp_path):
    """The streaming AUC score table is ADDITIVE (cnt, pos per score),
    so the replay guard carries the whole correctness: re-delivering a
    committed batch id with different rows must change nothing, and
    the committed table must equal the serial sum of the distinct
    batches — which is exactly the batch collapse the shared oracle
    gates."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _AUC,
        auc_scores_batch_fn,
        read_fold_table,
    )

    table = str(tmp_path / "score_counts")
    commits = str(tmp_path / "_commits")
    fn = auc_scores_batch_fn(table, commits)

    def batch(rows):
        return spark.createDataFrame(
            rows, "value double, event_type string"
        )

    fn(batch([(10.5, "purchase"), (10.9, "view"), (42.0, "view")]), 0)
    fn(batch([(10.1, "purchase"), (42.7, "purchase")]), 1)
    # replay id 1 with DIFFERENT rows — must be ignored entirely
    fn(batch([(10.1, "purchase")] * 40), 1)

    got = {
        r["score"]: (r["cnt"], r["pos"])
        for r in read_fold_table(spark, table, commits, _AUC).collect()
    }
    assert got == {10: (3, 2), 42: (2, 1)}


def _crash_sink(spark, sink, root):
    """(make_fn, read_state, high_watermark) for one sink under
    ``root``: the five-table ingest (retaining one marker, so the prune
    after commit deletes marker 0 at batch 1), the same ingest
    compacting every batch into a segment, one of the append-fold sinks
    (:func:`_fold_sink`), the chunk ledger compacting every batch into
    a segment, or one of the snapshot-manifest sinks
    (:func:`_snapshot_sink`). The append sinks' markers land in
    ``<root>/_commits``."""
    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _high_watermark,
        compact_fold_tables,
        read_fold_table,
        read_stream_table,
        streaming_ingest_batch_fn,
    )

    if sink in _SNAPSHOT_SINKS:
        return _snapshot_sink(spark, sink, root)
    commits = f"{root}/_commits"
    if sink in ("ingest", "compact"):
        paths = {t: f"{root}/{t}" for t in TABLES}
        kw = (
            {"compact_every": 1, "compact_keep_batches": 0}
            if sink == "compact"
            else {}
        )
        return (
            lambda: streaming_ingest_batch_fn(
                paths, commits, retain_versions=1, **kw
            ),
            lambda: {
                t: sorted(
                    map(
                        tuple,
                        read_stream_table(spark, paths, t, commits)
                        .drop("watts")
                        .collect(),
                    )
                )
                for t in TABLES
            },
            lambda: _high_watermark(commits),
        )
    make_fold, tables = _fold_sink(
        spark, sink.removesuffix("-compact"), root, commits
    )

    def make():
        fn = make_fold()
        if not sink.endswith("-compact"):
            return fn

        def compacting(batch, batch_id):
            fn(batch, batch_id)
            compact_fold_tables(spark, commits, 0, *tables)

        return compacting

    def read():
        out = []
        for table_dir, spec in tables:
            df = read_fold_table(spark, table_dir, commits, spec)
            if "user_sketch" in df.columns:  # compare HLL estimates, not bytes
                df = df.select("day", F.hll_sketch_estimate("user_sketch"))
            out.append(sorted(map(tuple, df.collect())))
        return out

    return make, read, lambda: _high_watermark(commits)


#: the sinks committed by ``snapshot_merge_fn`` (:func:`_snapshot_sink`)
_SNAPSHOT_SINKS = (
    "mg",
    "scd2",
    "scd2-bucketed",
    "ledger-bucketed",
    "ledger-lsm",
    "ledger-lsm-compact",
)


def _snapshot_sink(spark, sink, root):
    """(make_fn, read_state, high_watermark) of the snapshot-manifest
    sink ``sink`` on a table under ``root``. The LSM ledger's state is
    its folded read; ``ledger-lsm-compact`` runs it at a size tier of
    one file, so batch 1's append is followed by a compaction of the
    buckets it touched."""
    from unittest import mock

    from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
        SnapshotTable,
    )
    from cassaforte_meter_transmission_gen_spark.streaming import pipeline as p

    def scd2(t):
        return p.scd2_bucketed_batch_fn(t, "k", ["k", "v"])

    ledger = (p._CHUNK_LEDGER_BUCKETED_SCHEMA, p.CHUNK_LEDGER_N_BUCKETS)
    batch_fn, schema, n_buckets = {
        "mg": (
            lambda t: p.mg_rollup_batch_fn(t, k=5),
            "bucket int, user_id long, cnt long",
            1,
        ),
        "scd2": (scd2, _SCD2_HISTORY, 1),
        "scd2-bucketed": (scd2, _SCD2_HISTORY, 4),
        "ledger-bucketed": (p.chunk_ledger_bucketed_batch_fn, *ledger),
        "ledger-lsm": (p.chunk_ledger_lsm_batch_fn, *ledger),
        "ledger-lsm-compact": (p.chunk_ledger_lsm_batch_fn, *ledger),
    }[sink]
    path = f"{root}/table"

    def make():
        fn = batch_fn(SnapshotTable(path, schema, n_buckets))
        if sink != "ledger-lsm-compact":
            return fn

        def tiered(batch, batch_id):
            with mock.patch.object(p, "CHUNK_LEDGER_COMPACT_MAX_FILES", 1):
                fn(batch, batch_id)

        return tiered

    def read():
        rows = SnapshotTable.open(path).read(spark)
        if sink.startswith("ledger-lsm"):
            rows = p.ledger_merge(rows)
        return sorted(map(tuple, rows.drop("bucket").collect()))

    return make, read, lambda: SnapshotTable.open(path).batch_high_watermark()


def _fold_sink(spark, sink, root, commits):
    """(make_fn, [(table_dir, spec)]) of the append-fold sink ``sink``
    under ``root``. The view's source is a snapshot table whose
    snapshot 1 deletes one order."""
    from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
        SnapshotTable,
        bucket_of,
    )
    from cassaforte_meter_transmission_gen_spark.streaming import pipeline as p

    if sink == "view":
        src = SnapshotTable(
            f"{root}/src",
            "bucket int, o_orderkey bigint, o_orderstatus string,"
            " o_totalprice double",
            4,
        )

        def odf(rows):
            return spark.createDataFrame(
                rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
            ).withColumn("bucket", bucket_of("o_orderkey", 4))

        src.commit(odf([(1, "O", 10.0), (2, "F", 20.0), (3, "O", 30.0)]), 0)
        src.commit_delete(
            odf([(3, "O", 0.0)]).select("bucket", "o_orderkey"),
            1,
            key_cols=("o_orderkey",),
        )
        view = f"{root}/view"
        return (
            lambda: p.snapshot_view_batch_fn(src, view, commits),
            [(view, p._SNAPSHOT_VIEW)],
        )
    batch_fn, name, specs = {
        "sketch": (p.sketch_rollup_batch_fn, "day_sketches", {"": p._SKETCH}),
        "cms": (p.cms_rollup_batch_fn, "day_grids", {"": p._CMS}),
        "quantile": (
            lambda t, c: p.quantile_sketch_rollup_batch_fn(t, c, k=8),
            "day_samples",
            {"": p._quantile_fold(8)},
        ),
        "kmv": (p.kmv_rollup_batch_fn, "day_hashes", {"": p._KMV}),
        "psi": (p.psi_counts_batch_fn, "bucket_counts", {"": p._PSI}),
        "auc": (p.auc_scores_batch_fn, "score_counts", {"": p._AUC}),
        "nb": (
            p.nb_counts_batch_fn,
            "model",
            {f"/{t}": spec for t, spec in p._NB.items()},
        ),
        "ledger": (p.chunk_ledger_batch_fn, "ledger", {"": p._CHUNK_LEDGER}),
    }[sink]
    table = f"{root}/{name}"
    return (
        lambda: batch_fn(table, commits),
        [(table + sub, spec) for sub, spec in specs.items()],
    )


def _crash_batches(spark, sink):
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )

    if sink in ("ingest", "compact"):
        return [
            transmissions(spark, num_meters=2, seconds=60, t0_epoch=T0_EPOCH + 60 * i)
            for i in range(2)
        ]
    if sink == "view":  # batch i delivers source snapshot id i
        return [
            spark.createDataFrame([(str(i),)], "value string") for i in range(2)
        ]
    if sink.startswith("scd2"):  # batch 1 updates 1–3, deletes 4
        return [
            spark.createDataFrame(rows, "k bigint, v string, seq int, op string")
            for rows in (
                [(k, f"v{k}", 0, "u") for k in range(1, 9)],
                [(k, f"w{k}", 1, "u") for k in (1, 2, 3)] + [(4, "v4", 1, "d")],
            )
        ]
    if sink == "nb" or sink.startswith("ledger"):
        texts = ["alpha beta", "beta gamma gamma", "alpha delta", "gamma"]
        return [
            spark.createDataFrame(
                [(d, texts[d % 4], ("aa", "bb")[d % 2]) for d in ids],
                "doc_id long, text string, lang string",
            )
            for ids in (range(0, 10), range(10, 20))
        ]
    return [
        spark.createDataFrame(
            [
                (i % 37, f"2024-01-{1 + i % 28:02d} 12:00:00", i, i * 0.75,
                 ("purchase", "view", "view")[i % 3])
                for i in ids
            ],
            "user_id long, ts string, event_id long, value double,"
            " event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        for ids in (range(0, 100), range(100, 200))
    ]


_CRASH_STEPS = [
    ("ingest", "parquet", "meter_samples/batch=1"),
    ("ingest", "parquet", "meter_samples_second/batch=1"),
    ("ingest", "parquet", "meter_samples_minute/batch=1"),
    ("ingest", "parquet", "meter_samples_hour/batch=1"),
    ("ingest", "parquet", "meter_samples_day/batch=1"),
    ("ingest", "replace", "marker"),
    ("ingest", "remove", "gc"),
    ("compact", "replace", "meter_samples_minute/_compacted/upto=1"),
    ("sketch", "parquet", "day_sketches/batch=1"),
    ("sketch", "replace", "marker"),
    ("cms", "parquet", "day_grids/batch=1"),
    ("cms", "replace", "marker"),
    ("quantile", "parquet", "day_samples/batch=1"),
    ("quantile", "replace", "marker"),
    ("kmv", "parquet", "day_hashes/batch=1"),
    ("kmv", "replace", "marker"),
    ("psi", "parquet", "bucket_counts/batch=1"),
    ("psi", "replace", "marker"),
    ("auc", "parquet", "score_counts/batch=1"),
    ("auc", "replace", "marker"),
    ("nb", "parquet", "model/wl/batch=1"),
    ("nb", "parquet", "model/dl/batch=1"),
    ("nb", "replace", "marker"),
    ("ledger", "parquet", "ledger/batch=1"),
    ("ledger", "replace", "marker"),
    ("ledger-compact", "replace", "ledger/_compacted/upto=1"),
    ("view", "parquet", "view/batch=1"),
    ("view", "replace", "marker"),
    *[
        (sink, patch, target)
        for sink in _SNAPSHOT_SINKS[:-1]
        for patch, target in (
            ("parquet", "data/snap=1"),
            ("replace", "manifests/b/*-1.json"),
            ("link", f"manifests/{1:020d}.json"),
        )
    ],
    ("ledger-lsm-compact", "replace", "manifests/b/*-2.json"),
    ("ledger-lsm-compact", "link", f"manifests/{2:020d}.json"),
]


@pytest.mark.parametrize(
    "sink,patch,target",
    _CRASH_STEPS,
    ids=[f"{s}-{t.replace('/', '-')}" for s, _, t in _CRASH_STEPS],
)
def test_crash_at_every_commit_step_replays_exactly_once(
    spark, tmp_path, monkeypatch, sink, patch, target
):
    """The commit protocol under a crash at EACH durable step of batch
    1 — after one of its table writes, instead of the marker's
    ``os.replace``, in the marker prune after the marker, or in a
    compaction after the commit, between a segment's temp write and its
    publish (a grain's SUM, the chunk ledger's MIN/SUM); for a
    snapshot-manifest sink, after its ``data/snap=1`` write, at a bucket
    manifest's ``os.replace`` or at the root manifest's ``os.link`` (the
    commit point), and for the LSM ledger inside the compaction that
    follows its append. Readers must see exactly the batches ≤ the high
    watermark, and replaying batch 1 through a fresh fn must leave
    every table equal to an uninterrupted run."""
    import fnmatch
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    batches = _crash_batches(spark, sink)
    make, read, _ = _crash_sink(spark, sink, str(tmp_path / "reference"))
    ref_fn, want = make(), []
    for i, b in enumerate(batches):
        ref_fn(b, i)
        want.append(read())

    make, read, high_watermark = _crash_sink(spark, sink, str(tmp_path / "crashed"))
    commits = str(tmp_path / "crashed" / "_commits")
    make()(batches[0], 0)
    if patch == "parquet":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real_parquet(self, path, *args, **kwargs)
            if path.endswith(target):
                raise RuntimeError(f"injected crash after writing {target}")

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    elif patch == "replace":
        real_replace = os.replace

        def replace(src, dst):
            if (
                os.path.dirname(dst) == commits
                if target == "marker"
                else fnmatch.fnmatch(dst, f"*/{target}")
            ):
                raise RuntimeError(f"injected crash before publishing {target}")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
    elif patch == "link":
        real_link = os.link

        def link(src, dst, *args, **kwargs):
            if dst.endswith(target):
                raise RuntimeError(f"injected crash before publishing {target}")
            return real_link(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "link", link)
    else:
        real_remove = os.remove

        def remove(path, *args, **kwargs):
            if os.path.dirname(path) == commits:
                raise RuntimeError("injected crash in the marker prune")
            return real_remove(path, *args, **kwargs)

        monkeypatch.setattr(os, "remove", remove)
    with pytest.raises(RuntimeError, match="injected crash"):
        make()(batches[1], 1)
    monkeypatch.undo()

    hw = high_watermark()
    assert hw == (1 if target == "gc" or sink.endswith("compact") else 0)
    assert read() == want[hw]
    make()(batches[1], 1)
    assert read() == want[1]
