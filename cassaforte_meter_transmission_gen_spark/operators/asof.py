"""As-of (point-in-time) join — a temporal operator Spark lacks as a
built-in, composed from existing DataFrame ops (SURVEY brief: custom
operators as compositions before UDFs).

Semantics (backward as-of, the common case): for each left row, attach
the single right row with the greatest ``right.ts <= left.ts`` within
the same key group — i.e. "the latest observation at or before this
instant". DuckDB's ``ASOF JOIN`` is the oracle dual. Both sides carry
their timestamp in a ``ts`` column.

Implementation is the **union-merge** shape, not a range join:

1. tag both sides and union them on (keys, ts, tagged payloads);
2. one window per key group ordered by (ts, side-tag) carries the last
   non-null right payload forward (``last(..., ignorenulls=True)``
   over ``rowsBetween(unboundedPreceding, currentRow)``);
3. keep only left rows.

Why this shape at 100 TB: cost is one shuffle of |L|+|R| rows on the
key columns plus a per-key sort — no range cross-product, no per-key
candidate blowup (a range join degenerates quadratically when many
right rows precede each left row). The right side is deduplicated to
one row per (key, ts) first, which makes the merge deterministic even
under timestamp ties. Skewed keys are handled by AQE; a key+coarse-
time-bucket pre-partition is the standard refinement when single keys
exceed one task's memory (bucket boundaries need a boundary-carry
pass; not needed at corpus scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Backward as-of join: left rows gain ``matched_ts`` (the
    matched right timestamp, null when no right row precedes) and each
    of ``value_cols`` from the matched right row.

    ``on`` are equality key columns present on both sides; ties at
    identical (key, ts) on the right are resolved by keeping the
    max of each value column (deterministic)."""
    on = list(on)
    value_cols = list(value_cols or [])
    left_cols = [c for c in left.columns if c not in on and c != "ts"]

    r = (
        right.select(
            *on,
            F.col("ts").alias("__ts"),
            *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        )
        .groupBy(*on, "__ts")
        .agg(*[F.max(f"__r_{c}").alias(f"__r_{c}") for c in value_cols])
        .withColumn("__r_ts", F.col("__ts"))
        .withColumn("__side", F.lit(0))
        .select(
            *on, "__ts", "__side", "__r_ts",
            *[f"__r_{c}" for c in value_cols],
            *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left_cols],
        )
    )
    l = left.select(
        *on,
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema["ts"].dataType).alias("__r_ts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in value_cols
        ],
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
    )

    # right rows sort before left rows at equal ts → inclusive match
    w = (
        W.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = l.unionByName(r)
    carried = merged.select(
        *on,
        "__ts",
        "__side",
        F.last("__r_ts", ignorenulls=True).over(w).alias("matched_ts"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in value_cols
        ],
        *[f"__l_{c}" for c in left_cols],
    )
    return carried.filter(F.col("__side") == 1).select(
        *on,
        F.col("__ts").alias("ts"),
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        "matched_ts",
        *[F.col(f"__m_{c}").alias(f"{c}_asof") for c in value_cols],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """NEAREST as-of join — pandas ``merge_asof(direction='nearest')``:
    each left row takes whichever right row is closest in time, before
    OR after, ties (equidistant prev/next) to the BACKWARD match — the
    sensor-alignment semantic where a reading just after the probe
    instant is as good as one just before.

    Same union-merge economics as :func:`asof_join` — one shuffle of
    |L|+|R| rows on the keys, then TWO per-key window passes over the
    same partitioning (a backward ``last(ignorenulls)`` carry and a
    forward ``first(ignorenulls)`` carry; the second sort reuses the
    first's exchange). Exactly one subtlety: at EQUAL timestamps a
    right row must be visible to both directions, so the backward pass
    orders right-before-left at a tie while the forward pass orders
    left-before-right — both matches then see distance 0 and the
    backward preference picks deterministically.

    Returns the left rows plus ``matched_ts`` (null when the key group
    has no right row at all), ``match_dir`` ('prev'/'next'), and each
    ``value_cols`` as ``{col}_asof``."""
    on = list(on)
    value_cols = list(value_cols or [])
    left_cols = [c for c in left.columns if c not in on and c != "ts"]

    r = (
        right.select(
            *on,
            F.col("ts").alias("__ts"),
            *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        )
        .groupBy(*on, "__ts")
        .agg(*[F.max(f"__r_{c}").alias(f"__r_{c}") for c in value_cols])
        .withColumn("__r_ts", F.col("__ts"))
        .withColumn("__side", F.lit(0))
        .select(
            *on, "__ts", "__side", "__r_ts",
            *[f"__r_{c}" for c in value_cols],
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
                for c in left_cols
            ],
        )
    )
    l = left.select(
        *on,
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema["ts"].dataType).alias("__r_ts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in value_cols
        ],
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
    )
    # backward: right (side 0) sorts BEFORE left at a tie → inclusive
    wb = (
        W.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # forward: left sorts BEFORE right at a tie → inclusive from above
    wf = (
        W.partitionBy(*on)
        .orderBy("__ts", F.desc("__side"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    merged = l.unionByName(r)
    carried = merged.select(
        *on,
        "__ts",
        "__side",
        F.last("__r_ts", ignorenulls=True).over(wb).alias("__prev_ts"),
        F.first("__r_ts", ignorenulls=True).over(wf).alias("__next_ts"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(wb).alias(f"__p_{c}")
            for c in value_cols
        ],
        *[
            F.first(f"__r_{c}", ignorenulls=True).over(wf).alias(f"__n_{c}")
            for c in value_cols
        ],
        *[f"__l_{c}" for c in left_cols],
    )
    # nearest pick: prev wins on tie or when next is absent
    take_prev = F.col("__prev_ts").isNotNull() & (
        F.col("__next_ts").isNull()
        | (
            F.unix_micros(F.col("__ts")) - F.unix_micros(F.col("__prev_ts"))
            <= F.unix_micros(F.col("__next_ts")) - F.unix_micros(F.col("__ts"))
        )
    )
    return carried.filter(F.col("__side") == 1).select(
        *on,
        F.col("__ts").alias("ts"),
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        F.when(take_prev, F.col("__prev_ts"))
        .otherwise(F.col("__next_ts"))
        .alias("matched_ts"),
        F.when(F.col("__prev_ts").isNull() & F.col("__next_ts").isNull(), None)
        .when(take_prev, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("match_dir"),
        *[
            F.when(take_prev, F.col(f"__p_{c}"))
            .otherwise(F.col(f"__n_{c}"))
            .alias(f"{c}_asof")
            for c in value_cols
        ],
    )
