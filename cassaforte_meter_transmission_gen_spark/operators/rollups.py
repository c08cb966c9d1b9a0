"""Multi-granularity energy rollups (reference K3-K5/A2-A4, core.clj:122-153).

The reference maintains minute/hour/day COUNTER tables by issuing an
``UPDATE ... SET joules = joules + ?`` per transmission — insert-time
pre-aggregation so reads never scan raw data (setup_and_notes.txt:46,
SURVEY §4 O3). Counter increments are commutative sums, so the exact
Spark-native equivalent is a grouped sum keyed (said, date_trunc(grain)).

Scale design (SURVEY §4 O4): each grain derives from the NEXT FINER one
— sum is associative, so minute-from-second, hour-from-minute,
day-from-hour are exact and each step aggregates ~60× fewer rows than
re-scanning raw. Catalyst plans partial (map-side) + final aggregation,
so the shuffle carries only one row per (said, bucket) per task. At
100 TB the raw→second step is the only pass over raw data; everything
coarser touches pre-shrunk tables. Streaming variant: see
``streaming.pipeline`` (windowed stateful sum in update mode — the
reference's counter-increment semantics, T3/T4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import GRAIN_TRUNC

#: derivation order — each from the previous (finer) grain
CHAIN = ("minute", "hour", "day")


def rollup_from_second(finer: DataFrame, grain: str) -> DataFrame:
    """One rollup step: (said, datetime, joules) at a finer grain →
    the same shape at ``grain``. joules widens to long (COUNTER → sum,
    SURVEY §1.2)."""
    trunc = GRAIN_TRUNC[grain]
    return (
        finer.groupBy("said", trunc(F.col("datetime")).alias("datetime"))
        .agg(F.sum("joules").cast("long").alias("joules"))
    )


def rollup_chain(second_df: DataFrame) -> dict[str, DataFrame]:
    """Build all grains, each from the next finer (exact, associative).

    Returns {"second": ..., "minute": ..., "hour": ..., "day": ...}.
    """
    out: dict[str, DataFrame] = {"second": second_df}
    finer = second_df
    for grain in CHAIN:
        finer = rollup_from_second(finer, grain)
        out[grain] = finer
    return out


GRAIN_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def choose_source_grain(
    out_grain: str,
    t0_epoch: int | None = None,
    t1_epoch: int | None = None,
) -> str:
    """The routing decision (SURVEY §4 O4): the coarsest stored grain
    that (a) divides the output grain and (b) aligns with both range
    boundaries — guaranteeing the routed plan reads exactly the seconds
    the raw-scan plan would. An hour-grain report over an hour-aligned
    range reads the hour table (3600× fewer rows than seconds); the
    same report over a half-hour-shifted range must drop to minutes.
    Alignment is epoch-based (session is pinned UTC, like the
    reference's formatting, core.clj:66)."""
    out_secs = GRAIN_SECONDS[out_grain]
    best = "second"
    for g, secs in GRAIN_SECONDS.items():
        if secs > out_secs or out_secs % secs:
            continue
        if t0_epoch is not None and t0_epoch % secs:
            continue
        if t1_epoch is not None and t1_epoch % secs:
            continue
        if secs > GRAIN_SECONDS[best]:
            best = g
    return best


def counter_merge(existing: DataFrame, increments: DataFrame) -> DataFrame:
    """Batch-incremental COUNTER maintenance (reference K3-K5,
    core.clj:122-153): merge a batch of new per-key increments into an
    existing rollup table — ``UPDATE ... SET joules = joules + ?`` as a
    set operation. Union + re-sum is exact because counter increments
    are commutative/associative; keys present only on one side pass
    through unchanged.

    Scale shape: both sides shuffle on (said, datetime) once; if the
    existing table is bucketed on said (sources.layout) the exchange
    on its side disappears. State never lives in the driver — this is
    the idempotent re-derivable alternative to Cassandra's non-retry-
    safe counters (SURVEY §4 O7)."""
    inc = increments.select(
        "said", "datetime", F.col("joules").cast("long").alias("joules")
    )
    return (
        existing.select("said", "datetime", F.col("joules").cast("long").alias("joules"))
        .unionByName(inc)
        .groupBy("said", "datetime")
        .agg(F.sum("joules").cast("long").alias("joules"))
    )


def routed_energy_report(
    rollups: dict[str, DataFrame],
    grain: str,
    t0_epoch: int | None = None,
    t1_epoch: int | None = None,
    meters: list[int] | None = None,
) -> DataFrame:
    """Energy report routed to the cheapest pre-aggregated table: pick
    the source grain, filter (meters prune partitions; the time range
    prunes row groups), and re-aggregate only if the source is finer
    than the output. When source == output grain the plan is a pure
    filtered scan — no aggregation at all."""
    src = choose_source_grain(grain, t0_epoch, t1_epoch)
    df = rollups[src]
    if meters is not None:
        df = df.filter(F.col("said").isin(*meters))
    if t0_epoch is not None:
        df = df.filter(F.col("datetime") >= F.timestamp_seconds(F.lit(t0_epoch)))
    if t1_epoch is not None:
        df = df.filter(F.col("datetime") < F.timestamp_seconds(F.lit(t1_epoch)))
    if src == grain:
        return df
    return rollup_from_second(df, grain)


#: bucket width of the gap-fill grid (the minute rollup)
GAPFILL_STEP_SECONDS = 60


def _gapfill_grid_join(
    observed: DataFrame, saids: DataFrame, start_epoch: int, n_buckets: int
) -> DataFrame:
    """The dense per-meter grid of ``n_buckets`` GAPFILL_STEP_SECONDS
    buckets from ``start_epoch``, left-joined on (said, bucket index
    ``__b``) to the observed (said, datetime, joules) rows — the shared
    input of both gap-fill reads."""
    step = GAPFILL_STEP_SECONDS
    grid = saids.select(
        "said",
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("__b"),
    ).withColumn(
        "datetime",
        F.timestamp_seconds(F.lit(start_epoch) + F.col("__b").cast("long") * step),
    )
    obs = observed.select(
        "said",
        F.floor((F.col("datetime").cast("long") - start_epoch) / step)
        .cast("int")
        .alias("__b"),
        "joules",
    )
    return grid.join(obs, on=["said", "__b"], how="left")


def gapfill_locf(
    observed: DataFrame, saids: DataFrame, start_epoch: int, n_buckets: int
) -> DataFrame:
    """Gap-fill a sparse rollup onto the dense per-meter time grid and
    carry the last observation forward (the hypertable
    ``time_bucket_gapfill + locf`` read shape): missed transmissions
    (reference A5 — writes CAN fail, core.clj:58-66) leave holes in the
    counter tables, and downstream consumers (dashboards, the EWMA
    smoother, billing exports) want a dense minute grid, not holes.

    ``observed``: (said, datetime, joules) at the bucket grain;
    ``saids``: one ``said`` per meter (the dimension side). Output is
    one row per (said, bucket): (said, datetime, joules_locf,
    was_filled) — joules_locf is NULL until a meter's first
    observation, was_filled marks carried (non-observed) buckets.

    Scale shape: the grid is ``explode(sequence(...))`` per meter —
    n_buckets rows per said, generated distributed, never collected.
    The left join keys (said, bucket) on both sides (broadcastable
    when the observed slice is small; plain shuffle join otherwise)
    and the LOCF is one ``last(ignorenulls)`` window partitioned by
    said — no global window, no Python. Deterministic: pure integer
    grid arithmetic + exact long joules."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("said")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _gapfill_grid_join(observed, saids, start_epoch, n_buckets)
        .select(
            "said",
            "datetime",
            F.last("joules", ignorenulls=True).over(w).alias("joules_locf"),
            F.col("joules").isNull().alias("was_filled"),
        )
    )


def gapfill_interpolate(
    observed: DataFrame, saids: DataFrame, start_epoch: int, n_buckets: int
) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION (the hypertable ``interpolate``
    dual of :func:`gapfill_locf`): each missing bucket gets the value
    on the straight line between its nearest observed neighbors;
    buckets before the first / after the last observation stay NULL
    (extrapolation is a policy, not math). Same grid/join shape as
    LOCF plus one backward-looking and one forward-looking
    ignore-nulls window per meter. The arithmetic is written as an
    explicit fixed order (diff, then scale, then add) so the doubles
    are bit-equal to the oracle's."""
    from pyspark.sql import Window

    j = _gapfill_grid_join(observed, saids, start_epoch, n_buckets)
    w_prev = (
        Window.partitionBy("said")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("said")
        .orderBy("__b")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ob = F.when(F.col("joules").isNotNull(), F.col("__b"))
    pv = F.last(F.col("joules").cast("double"), ignorenulls=True).over(w_prev)
    pb = F.last(ob, ignorenulls=True).over(w_prev)
    nv = F.first(F.col("joules").cast("double"), ignorenulls=True).over(w_next)
    nb = F.first(ob, ignorenulls=True).over(w_next)
    diff = nv - pv
    frac_num = diff * (F.col("__b") - pb).cast("double")
    interp = pv + frac_num / (nb - pb).cast("double")
    return j.select(
        "said",
        "datetime",
        F.when(F.col("joules").isNotNull(), F.col("joules").cast("double"))
        .when(pb.isNotNull() & nb.isNotNull(), interp)
        .alias("joules_interp"),
        F.col("joules").isNotNull().alias("was_observed"),
    )
