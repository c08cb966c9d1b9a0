"""Meter-domain catalog queries (the reference's own surface).

Each query pairs the Spark plan with DuckDB oracle SQL that re-derives
the same result from first principles (the generator is deterministic:
sawtooth samples core.clj:37-41, fixed t0, contiguous said range —
FIXTURES.md §A), so the oracle needs no pre-materialized meter tables.

Oracle arithmetic notes: DuckDB ``//`` = integer div (Spark ``DIV``);
``CAST(x AS INT)`` rounds in DuckDB but truncates in Spark, so the
joules truncation is an explicit ``floor`` on both sides;
``SUM(INTEGER)`` is INT128 in DuckDB → cast to BIGINT to match Spark's
LongType.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.energy import SAMPLE_RATE, SAW_PERIOD
from ..functions.sqltext import sql_double_lit
from ..functions.text import tok_hash_portable_sql
from ..functions.timeutil import hhmmss
from ..operators.rollups import rollup_chain, rollup_from_second
from ..sources.meter_generator import (
    DEFAULT_NUM_METERS,
    DEFAULT_SECONDS,
    DEFAULT_START_SAID,
    T0_EPOCH,
    meter_samples_second,
    transmissions,
)
from .catalog import register

T0_SQL = "TIMESTAMP '2013-01-01 00:00:00'"

#: DuckDB CTE mirroring ``transmissions(...)`` ids → (said, datetime).
GEN_CTE = f"""
gen AS (
  SELECT CAST({DEFAULT_START_SAID} + (i // {DEFAULT_SECONDS}) AS INT) AS said,
         {T0_SQL} + (i % {DEFAULT_SECONDS}) * INTERVAL 1 SECOND AS datetime
  FROM range(0, {DEFAULT_NUM_METERS * DEFAULT_SECONDS}) t(i)
)"""

#: DuckDB scalar mirroring ``joules_over_second(sawtooth_watts())`` —
#: computed honestly from the sawtooth, once (every tick is identical,
#: core.clj:158).
TICK_CTE = f"""
tick AS (
  SELECT CAST(floor(
           list_sum(list_transform(range(0, {SAMPLE_RATE}),
                                   x -> CAST(x % {SAW_PERIOD} AS DOUBLE)))
           / {SAMPLE_RATE}) AS INT) AS joules
)"""

SECOND_SQL = f"WITH {GEN_CTE},{TICK_CTE}\nSELECT g.said, g.datetime, t.joules FROM gen g CROSS JOIN tick t"


@register(
    "meter_raw_scan",
    oracle=f"""
WITH g AS (
  SELECT m.said,
         {T0_SQL} + t.s * INTERVAL 1 SECOND AS datetime,
         list_transform(range(0, {SAMPLE_RATE}), x -> CAST(x % {SAW_PERIOD} AS FLOAT)) AS watts
  FROM (SELECT unnest([{DEFAULT_START_SAID}, {DEFAULT_START_SAID + 1}]) AS said) m
  CROSS JOIN range(3540, 3660) t(s)
)
SELECT CAST(said AS INT) AS said, datetime,
       CAST(len(watts) AS INT) AS n_samples,
       CAST(list_sum(list_transform(watts, w -> CAST(w AS DOUBLE))) AS DOUBLE) AS watts_sum,
       CAST(list_min(watts) AS DOUBLE) AS watts_min,
       CAST(list_max(watts) AS DOUBLE) AS watts_max
FROM g
""",
    tags=("meter", "scan", "filter"),
)
def meter_raw_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P2/P3 + the stated primary read (setup_and_notes.txt:46,50):
    raw samples for a said-set over a time window (here spanning an hour
    boundary). Partition pruning: the said/datetime filter sits directly
    on the generator's narrow plan; on a stored table it prunes files.
    Array is summarized (sum/min/max) rather than dumped — exercises the
    array compute without hashing 15k floats per row."""
    raw = transmissions(spark)
    lo = F.timestamp_seconds(F.lit(T0_EPOCH + 3540))
    hi = F.timestamp_seconds(F.lit(T0_EPOCH + 3660))
    return (
        raw.filter(
            F.col("said").isin(DEFAULT_START_SAID, DEFAULT_START_SAID + 1)
            & (F.col("datetime") >= lo)
            & (F.col("datetime") < hi)
        )
        .select(
            "said",
            "datetime",
            F.size("watts").alias("n_samples"),
            F.aggregate(
                "watts", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ).alias("watts_sum"),
            F.array_min("watts").cast("double").alias("watts_min"),
            F.array_max("watts").cast("double").alias("watts_max"),
        )
    )


@register(
    "meter_joules_second",
    oracle=SECOND_SQL,
    tags=("meter", "agg", "array"),
)
def meter_joules_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/K2 (core.clj:43-46,111-120): per-second energy from the 15k
    sample array, for every meter-second. The tick energy is computed
    once (shared array, core.clj:158 / O8) and broadcast onto the
    narrow generator plan — no shuffle, no per-row 15k-element fold."""
    return meter_samples_second(spark)


def _rollup_oracle(grain: str) -> str:
    # CAST: DuckDB date_trunc('day') yields DATE; Spark always TIMESTAMP
    return f"""WITH {GEN_CTE},{TICK_CTE}
SELECT said, CAST(date_trunc('{grain}', datetime) AS TIMESTAMP) AS datetime,
       CAST(SUM(joules) AS BIGINT) AS joules
FROM gen CROSS JOIN tick
GROUP BY 1, 2"""


@register("meter_rollup_minute", oracle=_rollup_oracle("minute"), tags=("meter", "rollup"))
def meter_rollup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/K3 (core.clj:122-131): minute COUNTER table as grouped sum,
    derived second→minute. Partial+final hash agg; shuffle carries one
    row per (said, minute) per task. (r14: was ``rollup_chain(...)
    ["minute"]`` — the chain's minute IS rollup_from_second(second,
    "minute"), but building the dict also built the unused hour and day
    plans, ~350 py4j round trips of wasted driver latency per call.)"""
    return rollup_from_second(meter_samples_second(spark), "minute")


@register("meter_rollup_hour", oracle=_rollup_oracle("hour"), tags=("meter", "rollup"))
def meter_rollup_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/K4 (core.clj:133-142): hour COUNTER table as grouped sum.

    One-shot form: aggregate straight second→hour in ONE exchange. The
    finer→coarser chain (K3→K4→K5, operators.rollups) is the INGEST
    shape, where each finer grain is materialized and re-read — worth
    its extra exchanges because they are paid once per maintenance run
    and amortized over every read. A standalone query has no
    materialized intermediates, so the chained plan re-derived minute
    in-flight and paid 2 exchanges for the same exact sum (associative
    either way; r14 A/B: 0.18 s vs 0.30 s steady, identical rows — and
    the direct partial agg shuffles one (said, hour) row per task
    instead of one (said, minute) row, strictly fewer bytes at any
    scale)."""
    return rollup_from_second(meter_samples_second(spark), "hour")


@register("meter_rollup_day", oracle=_rollup_oracle("day"), tags=("meter", "rollup"))
def meter_rollup_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/K5 (core.clj:144-153): day rollup, one-shot second→day — one
    exchange instead of the chained three (see meter_rollup_hour; r14
    A/B: 0.23 s vs 0.38-0.57 s steady, cold 0.34 s vs 1.82 s, identical
    rows)."""
    return rollup_from_second(meter_samples_second(spark), "day")


@register(
    "meter_counter_merge",
    oracle=_rollup_oracle("minute"),
    tags=("meter", "rollup", "incremental"),
)
def meter_counter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3's COUNTER-update semantics as batch-incremental maintenance
    (operators.rollups.counter_merge): the minute table built from the
    first hour of seconds, then a second hour of increments merged in —
    must equal the minute rollup over both hours (same oracle as
    meter_rollup_minute). The split is deliberately NOT minute-aligned
    (second 3570), so the straddled minute's key exists on BOTH sides
    and the merge must sum, not just union. This is the reference's
    ``joules = joules + ?`` re-expressed idempotently: re-running the
    merge re-derives, never double-counts (SURVEY §4 O7)."""
    from ..operators.rollups import counter_merge, rollup_from_second

    split = 3570  # mid-minute boundary
    existing = rollup_from_second(
        meter_samples_second(spark, seconds=split), "minute"
    )
    increments = rollup_from_second(
        meter_samples_second(
            spark, t0_epoch=T0_EPOCH + split, seconds=DEFAULT_SECONDS - split
        ),
        "minute",
    )
    return counter_merge(existing, increments)


@register(
    "meter_daily_report",
    oracle=f"""WITH {GEN_CTE},{TICK_CTE}
SELECT said, CAST(date_trunc('day', datetime) AS TIMESTAMP) AS day,
       CAST(SUM(joules) AS BIGINT) AS total_joules,
       count(*) AS n_seconds
FROM gen CROSS JOIN tick
WHERE said IN ({DEFAULT_START_SAID}, {DEFAULT_START_SAID + 1})
  AND datetime >= {T0_SQL} + 1800 * INTERVAL 1 SECOND
  AND datetime <  {T0_SQL} + 5400 * INTERVAL 1 SECOND
GROUP BY 1, 2""",
    tags=("meter", "flagship"),
)
def meter_daily_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 flagship read: energy report for a set of meters over a time
    period, served from the pre-aggregated chain (grain routing, O4) —
    here the second table filtered then rolled to day, never raw."""
    second = meter_samples_second(spark)
    lo = F.timestamp_seconds(F.lit(T0_EPOCH + 1800))
    hi = F.timestamp_seconds(F.lit(T0_EPOCH + 5400))
    return (
        second.filter(
            F.col("said").isin(DEFAULT_START_SAID, DEFAULT_START_SAID + 1)
            & (F.col("datetime") >= lo)
            & (F.col("datetime") < hi)
        )
        .groupBy("said", F.date_trunc("day", "datetime").alias("day"))
        .agg(
            F.sum("joules").cast("long").alias("total_joules"),
            F.count("*").alias("n_seconds"),
        )
    )


@register(
    "streaming_rollup_minute",
    oracle=_rollup_oracle("minute"),
    tags=("meter", "rollup", "streaming"),
)
def streaming_rollup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minute rollup computed by the STREAMING path (Structured
    Streaming windowed stateful sum over a bounded file stream,
    complete mode — streaming.pipeline) — gated against the *same*
    oracle as the batch rollup, proving streaming ≡ batch (T3/T4)."""
    from ..streaming.pipeline import run_bounded_rollup

    return run_bounded_rollup(spark, "1 minute")


@register(
    "meter_hhmmss_format",
    oracle=f"""WITH {GEN_CTE}
SELECT said, datetime, strftime(datetime, '%H:%M:%S') || ' UTC' AS hhmmss
FROM gen
WHERE datetime < {T0_SQL} + 120 * INTERVAL 1 SECOND""",
    tags=("meter", "scalar"),
)
def meter_hhmmss_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (core.clj:63-66): HH:mm:ss z formatting in UTC (session is
    pinned UTC so ``z`` renders 'UTC' like the reference's logs)."""
    raw = transmissions(spark, with_watts=False)
    hi = F.timestamp_seconds(F.lit(T0_EPOCH + 120))
    return raw.filter(F.col("datetime") < hi).select(
        "said", "datetime", hhmmss(F.col("datetime")).alias("hhmmss")
    )


@register(
    "meter_routed_hour_report",
    oracle=f"""WITH {GEN_CTE},{TICK_CTE}
SELECT said, CAST(date_trunc('hour', datetime) AS TIMESTAMP) AS datetime,
       CAST(SUM(joules) AS BIGINT) AS joules
FROM gen CROSS JOIN tick
WHERE said IN ({DEFAULT_START_SAID}, {DEFAULT_START_SAID + 2})
  AND datetime >= {T0_SQL} + 3600 * INTERVAL 1 SECOND
  AND datetime <  {T0_SQL} + 7200 * INTERVAL 1 SECOND
GROUP BY 1, 2""",
    tags=("meter", "rollup", "routing"),
)
def meter_routed_hour_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grain routing end-to-end (O4, operators.rollups.routed_energy_
    report): an hour-grain report over an hour-aligned range routes to
    the HOUR table — a filtered scan with no aggregation (the chooser
    is unit-tested to pick 'hour'; the oracle re-derives the same
    numbers from raw seconds, proving the routed shortcut exact)."""
    from ..operators.rollups import routed_energy_report

    chain = rollup_chain(meter_samples_second(spark))
    return routed_energy_report(
        chain,
        "hour",
        t0_epoch=T0_EPOCH + 3600,
        t1_epoch=T0_EPOCH + 7200,
        meters=[DEFAULT_START_SAID, DEFAULT_START_SAID + 2],
    )


@register(
    "meter_rolling_energy_5m",
    oracle=f"""WITH {GEN_CTE},{TICK_CTE},
minute AS (
  SELECT said, CAST(date_trunc('minute', datetime) AS TIMESTAMP) AS datetime,
         CAST(SUM(joules) AS BIGINT) AS joules
  FROM gen CROSS JOIN tick
  GROUP BY 1, 2
)
SELECT said, datetime,
       CAST(SUM(joules) OVER (
              PARTITION BY said ORDER BY datetime
              RANGE BETWEEN INTERVAL 4 MINUTE PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS joules_5m
FROM minute""",
    tags=("meter", "window", "rangeBetween"),
)
def meter_rolling_energy_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 rolling energy over the time series: trailing
    5-minute energy per meter via a time-RANGE window frame (not row
    counting — the frame is defined in seconds, so it stays correct if
    minutes are missing). Runs over the MINUTE rollup, not raw seconds
    (grain routing: 60× fewer rows under the window sort). The second
    table is repartitioned on `said` BEFORE the rollup: hash(said)
    satisfies the groupBy's (said, minute) distribution requirement, so
    the single said-shuffle feeds both the aggregation and the window —
    without it Spark plans two exchanges (said+minute, then said),
    which at 100 TB doubles the shuffle bytes of the whole pass."""
    from pyspark.sql import Window

    from ..operators.rollups import rollup_from_second

    minute = rollup_from_second(
        meter_samples_second(spark).repartition("said"), "minute"
    )
    w = (
        Window.partitionBy("said")
        .orderBy(F.col("datetime").cast("long"))
        .rangeBetween(-240, 0)
    )
    return minute.select(
        "said",
        "datetime",
        F.sum("joules").over(w).cast("long").alias("joules_5m"),
    )


@register(
    "ingest_roundtrip_day",
    oracle=f"""
WITH gen AS (
  SELECT CAST({DEFAULT_START_SAID} + (i // 3600) AS INT) AS said,
         {T0_SQL} + (i % 3600) * INTERVAL 1 SECOND AS datetime
  FROM range(0, {2 * 3600}) t(i)
),{TICK_CTE}
SELECT said, CAST(date_trunc('day', datetime) AS TIMESTAMP) AS datetime,
       CAST(SUM(joules) AS BIGINT) AS joules
FROM gen CROSS JOIN tick
GROUP BY 1, 2""",
    tags=("meter", "sink", "ingest"),
)
def ingest_roundtrip_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K5 end-to-end (core.clj:100-153): the full batch ingest
    pipeline — raw day-partitioned samples + second table + rollup
    chain, all written as parquet — then the DAY table read back from
    disk. The oracle re-derives day energy from first principles, so a
    mismatch anywhere in generate→write→re-read→rollup→write→re-read
    fails the gate (2 meters × 1 hour keeps the raw write small)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.ingest import ingest_batch, read_table

    out = tempfile.mkdtemp(prefix="meter_ingest_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    paths = ingest_batch(spark, out, num_meters=2, seconds=3600)
    return read_table(spark, paths, "meter_samples_day")


@register(
    "streaming_cumulative_energy",
    oracle=f"""WITH {GEN_CTE},{TICK_CTE}
SELECT said, CAST(SUM(joules) AS BIGINT) AS cumulative_joules
FROM gen CROSS JOIN tick
GROUP BY said""",
    tags=("meter", "streaming", "stateful"),
)
def streaming_cumulative_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator end-to-end (streaming.
    pipeline.cumulative_energy_stream, applyInPandasWithState): the
    per-meter lifetime energy counter driven over the bounded stream;
    the final counter per meter is deterministic and oracle-gated
    against the batch lifetime sum."""
    from ..streaming.pipeline import run_bounded_cumulative

    emitted = run_bounded_cumulative(
        spark, num_meters=DEFAULT_NUM_METERS, seconds=DEFAULT_SECONDS
    )
    return emitted.groupBy("said").agg(
        F.max("cumulative_joules").alias("cumulative_joules")
    )


@register(
    "streaming_dedup_transmissions",
    oracle=f"""WITH
gen AS (
  SELECT CAST({DEFAULT_START_SAID} + (i // 600) AS INT) AS said,
         {T0_SQL} + (i % 600) * INTERVAL 1 SECOND AS datetime
  FROM range(0, 1200) t(i)
),{TICK_CTE}
SELECT g.said, g.datetime, t.joules FROM gen g CROSS JOIN tick t""",
    tags=("meter", "streaming", "dedup"),
)
def streaming_dedup_transmissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming duplicate-transmission suppression
    (streaming.pipeline.dedup_transmission_stream,
    dropDuplicatesWithinWatermark): every 3rd second-grain row is staged
    twice — a retry storm under the reference's at-least-once producer
    (core.clj:80-85) — and the guarded stream must emit exactly the
    clean table: one row per (said, datetime), value-gated against the
    deterministic generator oracle. Dedup state is bounded by
    rate × lateness, never stream history."""
    from ..streaming.pipeline import run_bounded_dedup_ingest

    return run_bounded_dedup_ingest(spark, num_meters=2, seconds=600, dup_fraction=3)


#: EWMA weights 0.8^k over a 10-minute trailing window, materialized
#: driver-side and shipped to BOTH engines as repr-exact double
#: literals: java.lang.Math.pow and libm pow are not guaranteed
#: bit-identical, so neither engine may compute the decay itself.
EWMA_DECAY = 0.8
EWMA_LAGS = 10
EWMA_WEIGHTS = [EWMA_DECAY**k for k in range(EWMA_LAGS)]


def _ewma_oracle_sql() -> str:
    terms = " + ".join(
        f"{sql_double_lit(w)} * COALESCE(lag(joules, {k}) OVER"
        " (PARTITION BY said ORDER BY datetime), 0)"
        for k, w in enumerate(EWMA_WEIGHTS)
    )
    return f"""WITH {GEN_CTE},{TICK_CTE},
minute AS (
  SELECT said, CAST(date_trunc('minute', datetime) AS TIMESTAMP) AS datetime,
         CAST(SUM(joules) AS BIGINT) AS joules
  FROM gen CROSS JOIN tick
  GROUP BY 1, 2
)
SELECT said, datetime, joules, {terms} AS ewma_joules
FROM minute"""


@register(
    "meter_ewma_energy_10m",
    oracle=_ewma_oracle_sql(),
    tags=("meter", "window", "ewma", "smoothing"),
)
def meter_ewma_energy_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of minute energy per meter
    (decay 0.8/minute, 10-lag truncated kernel) — the smoothing a
    monitoring dashboard runs over the rollup to damp meter noise.
    Expressed as an explicit lag-chain weighted sum rather than a
    recursive state or a collect_list fold: each term is
    ``w_k · lag(joules, k)`` with the weights as driver-computed
    repr-exact literals, summed in fixed k-order — deterministic on
    both engines (lag/window semantics are identical, and integer
    joules × exact double weights leave no summation-order ambiguity
    untested by the hash gate). ROW-lag equals minute-lag because the
    generator's rollup is contiguous per meter (documented assumption;
    gap-tolerant smoothing would pre-densify the grid first). Same
    single-shuffle grain routing as meter_rolling_energy_5m: one said
    repartition feeds both the rollup and the window."""
    from pyspark.sql import Window

    from ..operators.rollups import rollup_from_second

    minute = rollup_from_second(
        meter_samples_second(spark).repartition("said"), "minute"
    )
    w = Window.partitionBy("said").orderBy("datetime")
    expr = None
    for k, wk in enumerate(EWMA_WEIGHTS):
        term = F.lit(wk) * F.coalesce(F.lag("joules", k).over(w), F.lit(0))
        expr = term if expr is None else expr + term
    return minute.select("said", "datetime", "joules", expr.alias("ewma_joules"))


#: gap-fill fixture: a deterministic ~20% of minute buckets are
#: "missed transmissions" (md5-portable hash of said:minute-index),
#: mirroring reference A5 — writes can fail (core.clj:58-66)
GAPFILL_DROP_MOD = 5
GAPFILL_MINUTES = DEFAULT_SECONDS // 60


#: shared gap-fill oracle prefix: sparse observed minutes (the same
#: md5-portable drop predicate the Spark plans inject) + the dense
#: per-meter grid — used verbatim by both the LOCF and the
#: interpolation oracles
GAPFILL_BASE_SQL = f"""WITH {GEN_CTE},{TICK_CTE},
minute AS (
  SELECT said, CAST(date_trunc('minute', datetime) AS TIMESTAMP) AS datetime,
         CAST(SUM(joules) AS BIGINT) AS joules
  FROM gen CROSS JOIN tick GROUP BY 1, 2
),
obs AS (
  SELECT said,
         CAST(date_diff('minute', {T0_SQL}, datetime) AS INT) AS b,
         joules
  FROM minute
  WHERE CAST(('0x' || substr(md5(CAST(said AS VARCHAR) || ':' ||
          CAST(CAST(date_diff('minute', {T0_SQL}, datetime) AS INT)
               AS VARCHAR)), 1, 15)) AS BIGINT)
        % {GAPFILL_DROP_MOD} <> 0
),
grid AS (
  SELECT CAST({DEFAULT_START_SAID} + s AS INT) AS said,
         CAST(b AS INT) AS b,
         {T0_SQL} + b * INTERVAL 1 MINUTE AS datetime
  FROM range(0, {DEFAULT_NUM_METERS}) t(s)
  CROSS JOIN range(0, {GAPFILL_MINUTES}) u(b)
)"""

#: minute-bucket index of ``datetime`` since T0 (the grid's ``b``)
_GAPFILL_MINUTE_IDX_SQL = (
    f"CAST(floor((CAST(datetime AS BIGINT) - {T0_EPOCH}) / 60) AS INT)"
)


def _gapfill_observed(spark: SparkSession) -> DataFrame:
    """The sparse minute input every gap-fill query reads: the minute
    rollup minus the buckets whose md5-portable hash of
    ``said:minute-index`` is 0 mod GAPFILL_DROP_MOD — the same
    predicate as the ``obs`` CTE of GAPFILL_BASE_SQL, so the sparse
    input is bit-identical in both engines."""
    key = (
        "concat(CAST(said AS STRING), ':',"
        f" CAST({_GAPFILL_MINUTE_IDX_SQL} AS STRING))"
    )
    minute = rollup_from_second(meter_samples_second(spark), "minute")
    return minute.filter(
        f"{tok_hash_portable_sql(key)} % {GAPFILL_DROP_MOD} != 0"
    )


@register(
    "meter_gapfill_locf_minute",
    oracle=f"""{GAPFILL_BASE_SQL}
SELECT g.said, g.datetime,
       last_value(o.joules IGNORE NULLS) OVER (
         PARTITION BY g.said ORDER BY g.b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS joules_locf,
       o.joules IS NULL AS was_filled
FROM grid g LEFT JOIN obs o ON g.said = o.said AND g.b = o.b""",
    tags=("meter", "gapfill", "locf", "window"),
)
def meter_gapfill_locf_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + last-observation-carried-forward over the minute
    rollup (operators.rollups.gapfill_locf) — the hypertable
    time_bucket_gapfill + locf read: a deterministic ~20% of minute
    buckets are dropped as missed transmissions (A5: the reference's
    writes can fail, core.clj:58-66), then the dense per-meter grid is
    rebuilt with holes carried forward and flagged. The missed-bucket
    predicate is the md5-portable hash shared verbatim with the oracle,
    so the sparse input is bit-identical in both engines; grid + LOCF
    are exact integer arithmetic. Scale: grid exploded per meter
    (never collected), one equi left join, one said-partitioned
    window."""
    from ..operators.rollups import gapfill_locf

    observed = _gapfill_observed(spark)
    saids = spark.range(DEFAULT_NUM_METERS).select(
        (F.col("id") + DEFAULT_START_SAID).cast("int").alias("said")
    )
    return gapfill_locf(observed, saids, T0_EPOCH, GAPFILL_MINUTES)


@register(
    "meter_gapfill_interpolate_minute",
    oracle=f"""{GAPFILL_BASE_SQL},
joined AS (
  SELECT g.said, g.b, g.datetime, o.joules
  FROM grid g LEFT JOIN obs o ON g.said = o.said AND g.b = o.b
),
win AS (
  SELECT *,
    last_value(CAST(joules AS DOUBLE) IGNORE NULLS) OVER wp AS pv,
    last_value(CASE WHEN joules IS NOT NULL THEN b END IGNORE NULLS)
      OVER wp AS pb,
    first_value(CAST(joules AS DOUBLE) IGNORE NULLS) OVER wn AS nv,
    first_value(CASE WHEN joules IS NOT NULL THEN b END IGNORE NULLS)
      OVER wn AS nb
  FROM joined
  WINDOW
    wp AS (PARTITION BY said ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY said ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT said, datetime,
       CASE WHEN joules IS NOT NULL THEN CAST(joules AS DOUBLE)
            WHEN pb IS NOT NULL AND nb IS NOT NULL
              THEN pv + ((nv - pv) * CAST(b - pb AS DOUBLE))
                        / CAST(nb - pb AS DOUBLE)
       END AS joules_interp,
       joules IS NOT NULL AS was_observed
FROM win""",
    tags=("meter", "gapfill", "interpolate", "window"),
)
def meter_gapfill_interpolate_minute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap-fill by linear interpolation over the same missed-
    transmission fixture as the LOCF query
    (operators.rollups.gapfill_interpolate — the hypertable
    ``interpolate`` dual): each hole gets the straight-line value
    between its nearest observed neighbors; edges (before the first /
    after the last observation) stay NULL by policy. One extra
    forward-looking ignore-nulls window per meter beyond the LOCF
    shape; the fixed-order double arithmetic (diff, scale, divide,
    add) is shared with the oracle so the interpolated values
    hash-match bit for bit."""
    from ..operators.rollups import gapfill_interpolate

    observed = _gapfill_observed(spark)
    saids = spark.range(DEFAULT_NUM_METERS).select(
        (F.col("id") + DEFAULT_START_SAID).cast("int").alias("said")
    )
    return gapfill_interpolate(observed, saids, T0_EPOCH, GAPFILL_MINUTES)


@register(
    "meter_transmission_gap_report",
    oracle=f"""{GAPFILL_BASE_SQL},
lagged AS (
  SELECT said, b,
         b - lag(b) OVER (PARTITION BY said ORDER BY b) AS gap
  FROM obs
)
SELECT said,
       CAST(MAX(gap) AS INT) AS max_gap_minutes,
       CAST(count(*) AS BIGINT) AS n_observed,
       CAST({GAPFILL_MINUTES} - count(*) AS BIGINT) AS n_missed
FROM lagged GROUP BY said""",
    tags=("meter", "gapfill", "monitoring"),
)
def meter_transmission_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-meter monitoring over the same sparse minute fixture the
    gap-fill queries read (~20% of buckets dropped by the md5-portable
    predicate, mirroring reference A5 write failures): per meter, the
    LONGEST run of missed transmissions (max lag gap between observed
    bucket indexes) and the observed/missed bucket counts — the report
    that pages on a meter gone dark rather than merely flickering. One
    said-partitioned lag window over the already-small rollup, then a
    per-meter aggregation; integer-only outputs, fully value-hashed."""
    from pyspark.sql import Window

    observed = _gapfill_observed(spark).selectExpr(
        "said", f"{_GAPFILL_MINUTE_IDX_SQL} AS b"
    )
    w = Window.partitionBy("said").orderBy("b")
    lagged = observed.select(
        "said", (F.col("b") - F.lag("b").over(w)).alias("gap")
    )
    return lagged.groupBy("said").agg(
        F.max("gap").cast("int").alias("max_gap_minutes"),
        F.count("*").alias("n_observed"),
        (F.lit(GAPFILL_MINUTES) - F.count("*")).cast("long").alias("n_missed"),
    )
