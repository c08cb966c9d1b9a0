"""The unbounded runner (reference -main, core.clj:163-176) and the
sink seam (reference Cassandra table family, core.clj:100-153)."""

from __future__ import annotations

import time

import pytest

from cassaforte_meter_transmission_gen_spark.io import CassandraSink, ParquetSink
from cassaforte_meter_transmission_gen_spark.operators.ingest import (
    TABLES,
    ingest_batch,
)
from cassaforte_meter_transmission_gen_spark.runner import run_unbounded


def test_unbounded_runner_maintains_rollups(spark, tmp_path):
    """Run the reference's program shape live for a few triggers: raw
    rows and all rollup grains must appear and the minute rollup must
    equal a re-aggregation of the second table at the time of check."""
    out = str(tmp_path / "run")
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
    )

    q = run_unbounded(
        spark, out, num_meters=2, start_said=77, trigger_seconds=1.0
    )
    paths = {t: f"{out}/{t}" for t in TABLES}
    commits = f"{out}/_commits"
    try:
        deadline = time.time() + 120
        minute_rows = 0
        # poll for a COMMITTED batch (the marker is the last step of a
        # batch) so stop() can't interrupt before a full fan-out landed
        while time.time() < deadline:
            time.sleep(1.0)
            try:
                minute_rows = read_stream_table(
                    spark, paths, "meter_samples_minute", commits
                ).count()
            except Exception:  # nothing committed yet
                continue
            if minute_rows >= 1:
                break
        assert minute_rows >= 1, "no committed five-table fan-out in 120s"
    finally:
        q.stop()
    # after stop: reads resolve through the commit log, so even if
    # stop() interrupted a batch mid-write, every table reflects the
    # SAME committed prefix — the totals agree exactly
    second = read_stream_table(spark, paths, "meter_samples_second", commits)
    minute = read_stream_table(spark, paths, "meter_samples_minute", commits)
    assert minute.count() >= 1
    second_sum = second.groupBy().sum("joules").first()[0]
    minute_sum = minute.groupBy().sum("joules").first()[0]
    assert 0 < minute_sum == second_sum
    # checkpoint exists → restart would resume offsets
    assert (tmp_path / "run" / "_checkpoint").exists()


def test_ingest_through_explicit_sink_seam(spark, tmp_path):
    """ingest_batch routed through a caller-provided TableSink produces
    the same five tables as the default path."""
    out = str(tmp_path / "seam")
    paths = ingest_batch(
        spark,
        out,
        num_meters=2,
        seconds=120,
        sink=ParquetSink(out),
    )
    sink = ParquetSink(out)
    assert set(paths) == set(TABLES)
    for t in TABLES:
        assert sink.exists(t), t
    assert sink.read(spark, "meter_samples_second").count() == 2 * 120
    assert sink.read(spark, "meter_samples_minute").count() == 2 * 2


def test_cassandra_sink_unavailable_raises_clearly(spark):
    """Without the connector jar the seam fails fast with guidance (the
    documented option path), not at .save() time."""
    with pytest.raises(RuntimeError, match="Cassandra Connector"):
        CassandraSink(spark)


def test_streaming_accounting_listener_counts_writes(spark, tmp_path):
    """A5's streaming dual: the query listener must observe the
    runner's micro-batches and input rows (the reference's counted
    success callbacks), with no terminating errors on a clean stop."""
    from cassaforte_meter_transmission_gen_spark.runner import (
        make_accounting_listener,
        run_unbounded,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        read_stream_table,
    )

    listener, counters = make_accounting_listener()
    spark.streams.addListener(listener)
    out = str(tmp_path / "acct")
    q = run_unbounded(
        spark, out, num_meters=2, start_said=55, trigger_seconds=1.0
    )
    paths = {t: f"{out}/{t}" for t in TABLES}
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            time.sleep(1.0)
            try:
                if (
                    read_stream_table(
                        spark, paths, "meter_samples_minute", f"{out}/_commits"
                    ).count()
                    >= 1
                ):
                    break
            except Exception:
                continue
    finally:
        q.stop()
        # listener events are delivered async; give the bus a moment
        time.sleep(2.0)
        spark.streams.removeListener(listener)
    assert counters["batches"] >= 1
    assert counters["rows"] >= 1
    assert counters["errors"] == []


def test_live_runner_compaction_keeps_readers_consistent(spark, tmp_path):
    """Compaction wired into the live 1 Hz runner: with an aggressive
    compact_every, segments must appear while the stream runs, batch-dir
    count must stay bounded, and committed reads must remain exactly
    consistent (second total == minute total) throughout."""
    import os

    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        GRAIN_TABLES,
        _compacted_state,
        read_stream_table,
    )

    out = str(tmp_path / "compact_run")
    q = run_unbounded(
        spark,
        out,
        num_meters=2,
        start_said=33,
        trigger_seconds=0.5,
        retain_versions=4,
        compact_every=4,
    )
    paths = {t: f"{out}/{t}" for t in TABLES}
    commits = f"{out}/_commits"
    second_path = paths["meter_samples_second"]
    try:
        deadline = time.time() + 120
        seg = None
        while time.time() < deadline:
            time.sleep(1.0)
            upto, seg = _compacted_state(second_path)
            if seg is not None:
                break
        assert seg is not None, "no compacted segment appeared in 120s"
    finally:
        q.stop()
    # after stop: compacted segment + surviving batch dirs must still
    # reconstruct EXACTLY the committed prefix (nothing lost to the
    # folds, nothing doubled), across every table
    second_sum = (
        read_stream_table(spark, paths, "meter_samples_second", commits)
        .groupBy()
        .sum("joules")
        .first()[0]
    )
    minute_sum = (
        read_stream_table(spark, paths, "meter_samples_minute", commits)
        .groupBy()
        .sum("joules")
        .first()[0]
    )
    assert 0 < minute_sum == second_sum
    dup = (
        read_stream_table(spark, paths, "meter_samples_second", commits)
        .groupBy("said", "datetime")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    # batch-dir count bounded by the compaction horizon, not history:
    # keep_batches(8) + up to compact_every(4) since the last fold,
    # plus slack for the one-cycle deferred deletion — for the grain
    # tables too, which append one dir per batch like the second table
    for t in ("meter_samples_second", *GRAIN_TABLES):
        n_dirs = sum(1 for d in os.listdir(paths[t]) if d.startswith("batch="))
        assert n_dirs <= 8 + 4 + 4, f"{t}: {n_dirs} batch dirs survived compaction"


class _FailingConf:
    """A session conf whose ``set`` raises for the listed keys."""

    def __init__(self, failing):
        self.failing = set(failing)
        self.values = {}

    def set(self, key, value):
        if key in self.failing:
            raise RuntimeError(f"cannot modify {key}")
        self.values[key] = value


class _FakeSession:
    def __init__(self, failing):
        self.conf = _FailingConf(failing)


def test_configure_raises_when_a_parity_conf_cannot_be_set():
    """UTC session time and nanos-as-long parquet reads are what oracle
    parity depends on: ``configure`` must fail loudly when either cannot
    be set, and still tolerate the optional AQE and Arrow confs."""
    from cassaforte_meter_transmission_gen_spark.session import (
        RUNTIME_CONFS,
        configure,
    )

    optional = [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
    ]
    s = configure(_FakeSession(optional))
    assert s.conf.values == {
        k: v for k, v in RUNTIME_CONFS.items() if k not in optional
    }
    for required in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        with pytest.raises(RuntimeError, match=required):
            configure(_FakeSession([required]))
