"""Storage layouts for the 100 TB design pass (SURVEY §4 O5).

The reference's physical design is ``PRIMARY KEY (said, datetime)`` —
partition by meter, cluster by time (setup_and_notes.txt:20,26,32,38,44).
The Spark-native duals, in increasing strength:

1. **Partitioned parquet** (``write_time_partitioned``): directory
   partitioning on a coarse time bucket (+ optionally a said bucket).
   Catalyst partition-prunes the directory tree, so the flagship read
   ("meters S over [t0,t1)", setup_and_notes.txt:46) touches only the
   matching files. Time buckets are DAYS — one directory per day keeps
   directory counts sane at 100 TB (36.5k dirs/century-meter vs
   86M for per-second dirs).
2. **Bucketed tables** (``write_bucketed``): ``bucketBy(said) +
   sortBy(datetime)`` via ``saveAsTable``. Both sides of a
   meter-aligned join (raw ⋈ rollup, stream ⋈ dim) read co-bucketed
   files and the join plans WITHOUT an Exchange — the shuffle happens
   once at write time, then every subsequent join is free. This is the
   direct analog of Cassandra's partition-local reads.

Bucket counts: a power of two sized so one bucket of the biggest table
fits an executor's working memory (128 buckets ≈ 800 GB/bucket at
100 TB raw — pair with day partitioning so a task reads
(day × bucket) ≈ 2 GB slices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_time_partitioned(
    df: DataFrame,
    path: str,
    said_buckets: int | None = None,
    clustered: bool = False,
) -> None:
    """Overwrite ``path`` with parquet partitioned by event day of
    ``datetime`` (and optionally a said hash bucket), rows within each
    file sorted by (said, datetime) so parquet row-group min/max stats
    prune time ranges inside a day.

    ``clustered=True`` declares the input already clustered by
    (said, ts) within its partitions (true for the generator, whose
    range splits are per-meter time slices, and for any source re-read
    from this layout): the write then needs NO shuffle — every input
    task streams its slice straight into the day directories, fully
    parallel. With ``clustered=False`` rows are hash-distributed over
    (day[, bucket], said) so a hot day spreads across 16 tasks instead
    of collapsing into one writer (the naive
    repartition-by-directory-column plan serializes a whole day
    through a single task — at 100 TB, one executor per day).
    Deliberately NOT repartitionByRange: its range-bound sampling pass
    evaluates the input twice, which doubles generation/decode cost of
    a wide array column for zero layout benefit here."""
    out = df.withColumn("p_day", F.to_date(F.col("datetime")))
    partition_cols = ["p_day"]
    if said_buckets:
        out = out.withColumn("p_said_bucket", F.pmod(F.hash("said"), F.lit(said_buckets)))
        partition_cols.append("p_said_bucket")
    if not clustered:
        split = F.pmod(F.hash("said"), F.lit(16))
        out = (
            out.repartition(*[F.col(c) for c in partition_cols], split)
            .sortWithinPartitions("said", "datetime")
        )
    (
        out.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_time_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a layout written by :func:`write_time_partitioned`; the
    partition columns stay available for explicit pruning predicates.

    NOTE (measured, not assumed): plain parquet carries no
    generated-column metadata, so Catalyst can NOT derive a ``p_day``
    bound from a ``datetime`` range predicate — a query filtering only on
    the data column scans every partition (scan metrics:
    numPartitions == all). Use :func:`read_meter_time_range` for the
    flagship read; it derives the partition predicates itself."""
    return spark.read.parquet(path)


def read_meter_time_range(
    spark: SparkSession,
    path: str,
    t0_epoch: int,
    t1_epoch: int,
    meters: list[int] | None = None,
    said_buckets: int | None = None,
) -> DataFrame:
    """The reference's flagship read — "meters S over [t0, t1)"
    (setup_and_notes.txt:46) — over the :func:`write_time_partitioned`
    layout, with partition predicates DERIVED from the logical ones.

    Why derivation is explicit: ``p_day = to_date(datetime)`` is a
    functional dependency only the writer knows; plain parquet has no
    generated-column metadata (a lakehouse format would carry it), so
    without these literals Catalyst scans all days (measured — see
    :func:`read_time_partitioned`). The reader therefore adds:

    - ``p_day IN [date(t0) .. date(t1)]`` — directory-prunes to the
      matching days; at 100 TB this is the difference between reading
      a century and reading a week;
    - ``p_said_bucket IN pmod(hash(said), n)`` for the requested
      meters when the layout was said-bucketed — computed DRIVER-side
      (functions.hashing.murmur3_hash_int, property-tested bit-equal to
      ``F.hash``), so the flagship read plans exactly ONE Spark job
      instead of paying a hash-job round trip per read;
    - the exact ``datetime``/``said`` row predicates, which parquet
      row-group (said, ts)-sorted min/max stats then prune INSIDE each
      day directory.

    The day literals resolve in the SESSION timezone (the writer's
    ``p_day = to_date(datetime)`` does too) — deriving them in UTC
    under a non-UTC session would silently DROP boundary-day rows, a
    correctness bug, not a missed optimization. Zones the driver can't
    resolve fall back to widening the UTC day range by one day per
    side, which keeps the row-level predicate authoritative.

    File-level proof: tests/test_layout.py asserts the scan's
    numPartitions/numOutputRows metrics, not just plan text."""
    import datetime as _dt

    from ..functions.hashing import said_bucket

    df = spark.read.parquet(path)
    tz_name = spark.conf.get("spark.sql.session.timeZone")
    try:
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(tz_name)
        d0 = _dt.datetime.fromtimestamp(t0_epoch, tz).date()
        # t1 is exclusive; the day containing t1-1s is the last to read
        d1 = _dt.datetime.fromtimestamp(t1_epoch - 1, tz).date()
    except Exception:  # unresolvable zone id: widen, stay correct
        d0 = _dt.datetime.fromtimestamp(t0_epoch, _dt.timezone.utc).date()
        d1 = _dt.datetime.fromtimestamp(t1_epoch - 1, _dt.timezone.utc).date()
        d0 -= _dt.timedelta(days=1)
        d1 += _dt.timedelta(days=1)
    days = [d0 + _dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
    df = df.filter(F.col("p_day").isin(days))
    df = df.filter(
        (F.col("datetime") >= F.timestamp_seconds(F.lit(t0_epoch)))
        & (F.col("datetime") < F.timestamp_seconds(F.lit(t1_epoch)))
    )
    if meters is not None:
        df = df.filter(F.col("said").isin(meters))
        if said_buckets and "p_said_bucket" in df.columns:
            buckets = sorted({said_bucket(m, said_buckets) for m in meters})
            df = df.filter(F.col("p_said_bucket").isin(buckets))
    drop = [c for c in ("p_day", "p_said_bucket") if c in df.columns]
    return df.drop(*drop)


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 32,
    sort: str = "datetime",
) -> None:
    """Persist (overwrite) as a ``said``-bucketed, sorted managed table:
    the one-time shuffle that makes every later equi-join/aggregation
    on ``said`` exchange-free (SortMergeJoin reads co-bucketed splits
    directly)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "said")
        .sortBy(sort)
        .format("parquet")
        .saveAsTable(table)
    )


def write_rollup_tables_bucketed(
    rollups: dict[str, DataFrame],
    prefix: str,
    n_buckets: int = 32,
) -> dict[str, str]:
    """Persist the whole rollup chain (operators.rollups.rollup_chain)
    as said-bucketed, datetime-sorted tables ``<prefix>_<grain>`` — the
    storage layout that makes grain routing end-to-end exchange-free:

    - a routed report whose source grain == output grain is a pure
      filtered scan (no shuffle by construction);
    - a routed report that re-aggregates a finer grain groups on
      (said, trunc(datetime)); the bucketed scan's hash partitioning on
      ``said`` already clusters every such group, so Catalyst plans the
      aggregation WITHOUT an Exchange (hash partitioning on a subset of
      the grouping keys satisfies the clustered distribution);
    - any meter-aligned join between two chain tables is co-bucketed →
      no Exchange either (test_layout.py).

    This is the reference's PRIMARY KEY (said, datetime) read path
    (setup_and_notes.txt:20-44): all work for one meter lives in one
    bucket, reads never reshuffle. Returns {grain: table_name}."""
    names: dict[str, str] = {}
    for grain, df in rollups.items():
        table = f"{prefix}_{grain}"
        write_bucketed(df, table, n_buckets=n_buckets)
        names[grain] = table
    return names


def read_rollup_tables(
    spark: SparkSession, names: dict[str, str]
) -> dict[str, DataFrame]:
    """Open the bucketed chain as {grain: DataFrame} — the shape
    operators.rollups.routed_energy_report consumes. Reading via the
    catalog preserves the bucket spec, which is what lets downstream
    plans drop their Exchanges."""
    return {grain: spark.table(t) for grain, t in names.items()}


def zorder_key(col_a: str, col_b: str, bits: int = 16) -> F.Column:
    """Morton (Z-order) interleave of two non-negative integer columns,
    ``bits`` bits each → one long sort key. Built as a single
    server-parsed expression (2·bits unrolled bit tests — the same
    py4j-avoidance as the LSH signatures)."""
    # shift in LONG space: an int column's bit 15 lands at position 31
    # and overflows 32-bit arithmetic (caught by the property test)
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST(`{col_a}` AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST(`{col_b}` AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return F.expr("CAST(" + " + ".join(terms) + " AS LONG)")


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Overwrite ``path`` with parquet clustered on the Z-order curve
    of two dimensions — the multi-dimensional generalization of the
    (said, datetime) sort:

    a file sorted by time alone packs EVERY meter into every row group,
    so a single-meter predicate prunes nothing; sorted by meter alone,
    a time predicate prunes nothing. Z-ordering interleaves the bits of
    both dimensions, so row groups occupy compact rectangles in
    (a, b)-space and parquet min/max stats prune on EITHER predicate —
    the standard lakehouse technique (Delta/Iceberg ``OPTIMIZE ZORDER``)
    reproduced on plain parquet. tests/test_layout.py proves it against
    the footers: row groups actually skipped, vs ~none for the linear
    sort, same data.

    ``repartitionByRange`` on the key gives globally disjoint z-ranges
    per file (each file = a contiguous curve segment); the in-file sort
    then makes every row group a sub-segment. One range-exchange at
    write time — read-side pruning is free forever after, exactly the
    economics of the bucketed layout."""
    keyed = df.withColumn("__z", zorder_key(col_a, col_b, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_ivf_partitioned(
    vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
) -> None:
    """Persist (overwrite) an embedding table as an on-disk inverted
    file: directory partitioned by nearest-centroid ``cluster_id`` (the
    IVF cell).

    This is the 100 TB form of operators.similarity.ivf_topk's pruning:
    instead of an equi-join filtering candidate ROWS by probed cell,
    the probe list becomes a partition predicate and Catalyst prunes
    whole directories — a 4-of-16-probe query reads 1/4 of the FILES,
    before any row decoding happens. The centroids come from the same
    deterministic k-means, so the layout and the query-time assignment
    agree exactly."""
    from ..operators.similarity import assign_to_centroid

    assigned = assign_to_centroid(vectors, centroids)
    # one directory per cell; repartition by the partition column so a
    # hot cell writes from one task set, not every input task × cell
    (
        assigned.repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(path)
    )


def read_ivf_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read an IVF layout; ``cluster_id`` is the partition column, so
    ``filter(col("cluster_id").isin(probes))`` directory-prunes."""
    return spark.read.parquet(path)


def append_ivf_partitioned(
    new_vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
) -> None:
    """Grow an existing inverted-file layout with a new vector batch
    under the FIXED coarse quantizer — incremental index maintenance
    (how IVF indexes grow in practice: the quantizer is trained once,
    arriving vectors are assigned and appended to their cell's
    directory; retraining is a rare offline rebuild). Append mode adds
    files inside each cell directory without touching existing data,
    so a continuous embedding pipeline can call this per micro-batch
    (e.g. from a Structured Streaming ``foreachBatch``) and probing
    readers keep directory-pruning correctly across the growing table
    — the resulting layout is row-identical to a from-scratch
    ``write_ivf_partitioned`` of the union, because assignment depends
    only on the (fixed) centroid literals."""
    from ..operators.similarity import assign_to_centroid

    assigned = assign_to_centroid(new_vectors, centroids)
    (
        assigned.repartition("cluster_id")
        .write.mode("append")
        .partitionBy("cluster_id")
        .parquet(path)
    )


def write_events_day_partitioned(df: DataFrame, path: str) -> None:
    """Write an events frame day-partitioned (``day=YYYY-MM-DD``
    directories) — the landing-zone layout every daily pipeline reads
    and backfills. One range-free shuffle-less write: the partition
    column is derived per row, files land under their day directory."""
    (
        df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )


def backfill_day_dynamic_overwrite(
    corrected: DataFrame, path: str
) -> None:
    """Idempotent single-day backfill: with
    ``spark.sql.sources.partitionOverwriteMode=dynamic``, an INSERT
    OVERWRITE replaces ONLY the partitions present in the incoming
    frame — every other day's files are physically untouched (the
    static default would TRUNCATE the whole table first: the classic
    production data-loss foot-gun this operator exists to avoid).
    Re-running the same backfill converges to the same state — the
    at-least-once daily-orchestrator contract."""
    spark = corrected.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            corrected.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
