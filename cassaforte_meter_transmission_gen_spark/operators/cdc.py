"""CDC changelog application: materialize a snapshot + ordered change
feed into the current table state (SURVEY §4 O7 family — the idempotent
set-operation dual of row-at-a-time UPSERT/DELETE, the same move that
re-expressed the reference's Cassandra counter UPDATEs as grouped sums
in operators.rollups / counter_merge).

Semantics: ``changes`` carries the snapshot's full row payload plus a
sequence column and an op column ('u' upsert, 'd' delete). Per key the
HIGHEST sequence wins (last-write-wins); a winning 'u' replaces the
snapshot row (or inserts a brand-new key), a winning 'd' removes it.
Applying the same changelog twice is a no-op — re-derivation, never
increments — which is what makes the operator retry-safe under
at-least-once delivery.

Scale shape: the change feed is one key-partitioned window (changes
are a sliver of the snapshot), the snapshot is touched by ONE
broadcast anti join on the changed keys — it never shuffles and never
rewrites untouched rows' values, so the cost is O(snapshot scan +
changes), not O(snapshot shuffle). If the changed-key set ever
outgrows broadcast, drop the explicit hint and let AQE pick the join;
the plan stays correct either way."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Current state = snapshot ⊳ changelog. ``changes`` must contain
    every ``snapshot`` column plus ``seq``/``op``; per key the
    max-seq row decides (assumes one row per (key, seq) — a real feed's
    log offset). Returns the snapshot schema."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc("seq"))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = snapshot.join(
        F.broadcast(latest.select(*key_cols)), key_cols, "left_anti"
    )
    upserts = latest.filter(F.col("op") == "u").select(*snapshot.columns)
    return untouched.unionByName(upserts)


def scd2_history(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension Type 2: instead of folding the change
    feed into current state (:func:`apply_changelog`), KEEP every
    version as a row with a validity interval. The snapshot contributes
    the seq-0 version of each key; every 'u' change opens a new version;
    the next event on the key (update OR delete) closes the previous
    one. Output = snapshot columns + ``valid_from_seq`` /
    ``valid_to_seq`` (NULL = still open) + ``is_current``; a key whose
    last event is a delete has no current row.

    Scale shape: one window partitioned by key over snapshot ∪ changes —
    a single shuffle on the dimension key, no self-join, no iteration;
    per-key version chains are tiny (the feed's per-key fan-in), so the
    window never sees a skewed partition unless the feed itself is
    pathological. Applying the same feed twice yields the same history
    (pure re-derivation), the property that makes the build retry-safe.
    """
    payload = list(snapshot.columns)
    base = snapshot.withColumn("seq", F.lit(0)).withColumn("op", F.lit("u"))
    stream = base.unionByName(changes.select(*payload, "seq", "op"))
    return versions_from_stream(stream, payload, key_cols)


def versions_from_stream(
    stream: DataFrame,
    payload: list[str],
    key_cols: list[str],
) -> DataFrame:
    """The SCD2 version-chaining core over an already-merged event
    stream (rows = payload + seq + op, any seq base): one
    key-partitioned window; each 'u' row becomes a version open from
    its seq until the key's next event. Shared by the batch build
    (:func:`scd2_history`, which seeds seq 0 from the snapshot) and the
    streaming maintenance (streaming.pipeline.scd2_merge, which seeds
    each affected key from its committed OPEN version so the chain
    continues across micro-batches)."""
    w = Window.partitionBy(*key_cols).orderBy("seq")
    hist = stream.withColumn(
        "valid_to_seq", F.lead(F.col("seq")).over(w).cast("int")
    )
    return (
        hist.filter(F.col("op") == "u")
        .withColumn("valid_from_seq", F.col("seq").cast("int"))
        .withColumn("is_current", F.col("valid_to_seq").isNull())
        .select(*payload, "valid_from_seq", "valid_to_seq", "is_current")
    )
