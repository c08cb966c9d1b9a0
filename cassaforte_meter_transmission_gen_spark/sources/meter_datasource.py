"""The meter generator as a first-class pluggable Spark DataSource.

PySpark 4's Python DataSource V2 API (``pyspark.sql.datasource``) lets
the engine expose the reference's deterministic transmission generator
(ref core.clj:155-176) through ``spark.read.format("meter_samples_py")``
— the same surface any catalog table gets: schema negotiation, options,
and genuine PARALLEL reads (one ``InputPartition`` per meter, so a
1000-executor cluster pulls 1000 meters concurrently and each task's
rows arrive pre-clustered by meter, mirroring the contiguous-id layout
of ``sources.meter_generator.transmissions``).

The reader emits second-grain ``(said, epoch, joules)`` rows — the K2
aggregate — with joules computed honestly from the sawtooth formula
once per partition (every 1 Hz tick carries the identical first 15 000
samples of ``cycle(range 0 120))``, core.clj:37-41,158). Rows leave
Python as ONE pyarrow RecordBatch per partition: Arrow-vectorized,
never row-at-a-time.

This module is the extensibility proof for the source seam: the
Cassandra connector (io.py) plugs in the same way from the JVM side;
a Kafka/CDC feed would implement ``DataSourceStreamReader`` beside
this reader.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..functions.energy import SAMPLE_RATE, SAW_PERIOD
from .meter_generator import (
    DEFAULT_NUM_METERS,
    DEFAULT_SECONDS,
    DEFAULT_START_SAID,
    T0_EPOCH,
)


def shared_tick_joules() -> int:
    """Energy of the shared per-tick sample array — the same integer
    ``floor(mean(first SAMPLE_RATE of cycle(range 0 120)))`` the JVM
    plan computes in meter_generator.tick_joules_df (golden value 59
    for the fixture constants)."""
    total = sum(float(i % SAW_PERIOD) for i in range(SAMPLE_RATE))
    import math

    return int(math.floor(total / SAMPLE_RATE))


class MeterPartition(InputPartition):
    def __init__(self, said: int, t0_epoch: int, seconds: int):
        self.said = said
        self.t0_epoch = t0_epoch
        self.seconds = seconds


class MeterSamplesReader(DataSourceReader):
    def __init__(self, options):
        self.num_meters = int(options.get("num_meters", DEFAULT_NUM_METERS))
        self.start_said = int(options.get("start_said", DEFAULT_START_SAID))
        self.t0_epoch = int(options.get("t0_epoch", T0_EPOCH))
        self.seconds = int(options.get("seconds", DEFAULT_SECONDS))

    def partitions(self):
        # one split per meter: parallel reads, meter-clustered output
        return [
            MeterPartition(self.start_said + m, self.t0_epoch, self.seconds)
            for m in range(self.num_meters)
        ]

    def read(self, partition: MeterPartition):
        import pyarrow as pa

        joules = shared_tick_joules()
        n = partition.seconds
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([partition.said] * n, type=pa.int32()),
                pa.array(
                    range(partition.t0_epoch, partition.t0_epoch + n),
                    type=pa.int64(),
                ),
                pa.array([joules] * n, type=pa.int32()),
            ],
            names=["said", "epoch", "joules"],
        )


class MeterSamplesDataSource(DataSource):
    """``spark.read.format("meter_samples_py")`` — options:
    num_meters, start_said, t0_epoch, seconds."""

    @classmethod
    def name(cls) -> str:
        return "meter_samples_py"

    def schema(self) -> str:
        return "said int, epoch bigint, joules int"

    def reader(self, schema) -> MeterSamplesReader:
        return MeterSamplesReader(self.options)

    def streamReader(self, schema):
        return MeterSamplesStreamReader(self.options)


def register_meter_datasource(spark) -> None:
    """Idempotent per-session registration of the format name."""
    spark.dataSource.register(MeterSamplesDataSource)


class MeterStreamPartition(InputPartition):
    def __init__(self, said: int, t0_epoch: int, start_tick: int, end_tick: int):
        self.said = said
        self.t0_epoch = t0_epoch
        self.start_tick = start_tick
        self.end_tick = end_tick


class MeterSamplesStreamReader(DataSourceStreamReader):
    """``DataSourceStreamReader`` for the generator: offsets are tick
    indices, each micro-batch covers ``ticks_per_batch`` seconds of the
    fleet (one partition per meter per batch — the same fan-out as the
    batch reader, sliced by time). The feed is BOUNDED at ``seconds``
    ticks: past it, latestOffset stops advancing and batches are empty
    — deterministic end-to-end, so the streamed result is gated against
    the identical oracle as the batch read (streaming ≡ batch for a
    pluggable source). Offsets are driver state; Spark's checkpoint
    persists them, and commit() is a no-op write-side because the
    generator is replayable from any offset — the Kafka-consumer
    contract. On a RESTART from checkpoint the reader is constructed
    fresh (cursor 0) while Spark's start offset is already ahead, so
    ``latestOffset`` must never advance from the stale in-memory
    counter alone: ``partitions()``/``commit()`` fast-forward the
    cursor to the highest offset Spark has shown us, guaranteeing a
    resumed query never re-covers committed tick ranges under new
    batch ids (no duplicate rows in an append sink)."""

    def __init__(self, options):
        self.num_meters = int(options.get("num_meters", DEFAULT_NUM_METERS))
        self.start_said = int(options.get("start_said", DEFAULT_START_SAID))
        self.t0_epoch = int(options.get("t0_epoch", T0_EPOCH))
        self.seconds = int(options.get("seconds", DEFAULT_SECONDS))
        self.ticks_per_batch = int(options.get("ticks_per_batch", 900))
        self._current = 0

    def initialOffset(self):
        return {"tick": 0}

    def latestOffset(self):
        self._current = min(self._current + self.ticks_per_batch, self.seconds)
        return {"tick": self._current}

    def _fast_forward(self, tick: int) -> None:
        # Checkpoint-restart safety: Spark replays offsets it already
        # knows (start of the next batch / committed end); the cursor
        # must never lag them or latestOffset would re-advance through
        # already-committed ranges.
        if tick > self._current:
            self._current = min(tick, self.seconds)

    def partitions(self, start: dict, end: dict):
        s, e = int(start["tick"]), int(end["tick"])
        self._fast_forward(max(s, e))
        return [
            MeterStreamPartition(self.start_said + m, self.t0_epoch, s, e)
            for m in range(self.num_meters)
        ]

    def read(self, partition: MeterStreamPartition):
        import pyarrow as pa

        joules = shared_tick_joules()
        n = partition.end_tick - partition.start_tick
        if n <= 0:
            return iter(())
        return iter(
            [
                pa.RecordBatch.from_arrays(
                    [
                        pa.array([partition.said] * n, type=pa.int32()),
                        pa.array(
                            range(
                                partition.t0_epoch + partition.start_tick,
                                partition.t0_epoch + partition.end_tick,
                            ),
                            type=pa.int64(),
                        ),
                        pa.array([joules] * n, type=pa.int32()),
                    ],
                    names=["said", "epoch", "joules"],
                )
            ]
        )

    def commit(self, end) -> None:
        # Replayable source: nothing to release write-side, but the
        # committed end offset is the authoritative restart floor.
        try:
            self._fast_forward(int(end["tick"]))
        except (TypeError, KeyError):
            pass

    def stop(self) -> None:
        pass
