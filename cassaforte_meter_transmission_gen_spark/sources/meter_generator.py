"""Deterministic meter-transmission source (reference core.clj:37-41,155-176).

The reference's generator: an infinite sawtooth sample seq
``(map float (cycle (range 0 120)))`` (core.clj:37-41); each 1 Hz tick
takes exactly ``SAMPLE_RATE`` (15000, core.clj:14) samples — always the
*first* 15000 of the lazy seq, so every tick carries the identical array
(core.clj:158) — and fans it out to meters ``start-said ..
start-said+n-1`` (core.clj:159-161). ``start-said`` is a stable per-host
seed, SHA1(host_id) mod 100000 (core.clj:27-35); fixtures pin 42000.

Spark-first design, 100 TB notes:

- One ``spark.range(n)`` with integer div/mod → said/tick: a parallel,
  shuffle-free narrow plan. No crossJoin, no driver loop; scales to any
  meter-count × duration by splitting the range across executors.
- The watts array is a ``transform(sequence(...))`` expression evaluated
  JVM-side inside WholeStageCodegen — no Python, no serialization.
- Determinism: event time is ``t0_epoch + tick`` (never ``now()``), so
  plans are replayable and oracle-checkable (SURVEY §5.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.energy import SAMPLE_RATE, SAW_PERIOD

#: fixture defaults (FIXTURES.md §A): 2013-01-01T00:00:00Z
T0_EPOCH = 1356998400
DEFAULT_START_SAID = 42000
DEFAULT_NUM_METERS = 4
DEFAULT_SECONDS = 7200


def sawtooth_watts() -> F.Column:
    """The reference's sample array: first 15000 of cycle(range 0 120),
    as float (core.clj:37-41,158). Identical for every row by
    construction — so it is emitted as ONE constant array (the
    reference's shared-array optimization, core.clj:158-161, SURVEY §4
    O8): every row copies the same folded array, instead of evaluating
    15k modulo expressions per row (`transform(sequence(...))`, ~8×
    slower measured).

    Built as ``flatten(array_repeat(<one 120-value period>, 125))`` in
    a single server-parsed expression: Catalyst constant-folds it to
    the same literal as the spelled-out list (verified element-wise),
    but shipping 15000 floats through ``F.lit`` cost 5.7 s of pure
    driver-side py4j time PER QUERY BUILD — it dominated the ingest
    benchmark and every raw-array query's construction."""
    reps = -(-SAMPLE_RATE // SAW_PERIOD)  # ceil: slice trims any tail
    period = ",".join(f"{i}D" for i in range(SAW_PERIOD))
    return F.expr(
        f"CAST(slice(flatten(array_repeat(array({period}), {reps})), "
        f"1, {SAMPLE_RATE}) AS ARRAY<FLOAT>)"
    )


def tick_joules_df(spark: SparkSession) -> DataFrame:
    """One-row DataFrame holding the energy of the shared per-tick
    sample array, computed honestly from the sawtooth in-plan — but
    ONCE, as a 15k-row aggregation, instead of once per meter-second.

    This is the reference's own shared-array optimization (core.clj:
    158-161, SURVEY §4 O8): every tick takes the *same* first 15000
    samples, so its energy is a single value. At 100 TB the per-row
    fold is O(rows × 15k); this is O(15k) + a broadcast of one row.
    """
    saw = (F.col("id") % SAW_PERIOD).cast("double")
    # numPartitions=1: the 15k-element fold is microseconds of work, but
    # a default-parallelism range planned it as a 32-task stage plus a
    # SinglePartition exchange before the final agg — pure scheduling
    # overhead paid by EVERY query that broadcasts the tick energy. One
    # partition satisfies the final agg's AllTuples requirement
    # directly: no exchange, one task, same value (sum is exact — the
    # sawtooth doubles are integers far below 2^53).
    return spark.range(0, SAMPLE_RATE, 1, 1).agg(
        F.floor(F.sum(saw) / F.lit(SAMPLE_RATE)).cast("int").alias("joules")
    )


def transmissions(
    spark: SparkSession,
    num_meters: int = DEFAULT_NUM_METERS,
    start_said: int = DEFAULT_START_SAID,
    t0_epoch: int = T0_EPOCH,
    seconds: int = DEFAULT_SECONDS,
    with_watts: bool = True,
    slices: int | None = None,
) -> DataFrame:
    """``meter_samples`` rows for ``num_meters`` meters × ``seconds``
    ticks: (said int, datetime timestamp, watts array<float>).

    Layout: id = meter_index * seconds + tick, so each meter's ticks are
    contiguous in the range → range-partition boundaries align with
    meters (the reference's partition-by-meter layout, SURVEY §4 O5).

    ``slices`` overrides the range's partition count (default: cluster
    parallelism) while KEEPING the contiguous id splits — finer
    meter-time slices of identical shape, which is how the streaming
    bench stages more same-sized files to extend its micro-batch-size
    curve without changing what one file means.
    """
    n = num_meters * seconds
    df = (spark.range(0, n, 1, slices) if slices else spark.range(n)).select(
        (F.lit(start_said) + F.expr(f"id DIV {seconds}")).cast("int").alias("said"),
        F.timestamp_seconds(F.lit(t0_epoch) + F.col("id") % seconds).alias("datetime"),
    )
    if with_watts:
        df = df.withColumn("watts", sawtooth_watts())
    return df


def meter_samples_second(
    spark: SparkSession,
    num_meters: int = DEFAULT_NUM_METERS,
    start_said: int = DEFAULT_START_SAID,
    t0_epoch: int = T0_EPOCH,
    seconds: int = DEFAULT_SECONDS,
) -> DataFrame:
    """The ``meter_samples_second`` table: joules derived from the
    sawtooth samples in-plan (reference K2, core.clj:111-120), via the
    shared-tick energy (``tick_joules_df``) broadcast onto the narrow
    (said, datetime) generator — a BroadcastNestedLoopJoin against one
    row, so the plan stays a single shuffle-free narrow stage.

    ``joules_over_second`` (the per-row array fold) remains the general
    operator for *real* per-row sample arrays; this fast path is valid
    precisely because the generator's ticks are identical by
    construction (core.clj:158).
    """
    ids = transmissions(
        spark, num_meters, start_said, t0_epoch, seconds, with_watts=False
    )
    return ids.crossJoin(F.broadcast(tick_joules_df(spark))).select(
        "said", "datetime", "joules"
    )
