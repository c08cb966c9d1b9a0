"""Source/sink format breadth: the engine's connector surface beyond
parquet (SURVEY §2.1-2.2 — the reference's only I/O is CQL; the
Spark-native engine exposes every built-in DataSource V2 format).

Each query round-trips a corpus table through a different format —
write → re-read → aggregate — and is gated against the DuckDB oracle
computed from the ORIGINAL parquet, so any value corruption anywhere in
the format's write/read path fails the hash comparison. Formats with
schema-erasure quirks get explicit schemas on re-read (CSV reads
everything as string otherwise; JSON re-orders columns).

At 100 TB these formats are ingress/egress edges (landing zones, log
shipping), not the analytical store — the engine's canonical layout
remains partitioned/bucketed parquet (sources.layout).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import load_table
from .catalog import register
from .compat import sql_dec_sum
def _scratch(prefix: str) -> str:
    """mkdtemp whose tree is reclaimed at interpreter exit — the query
    result may be lazily read after the building function returns, so
    eager cleanup would race the job; exit-time cleanup can't."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _seed_orders_snapshot(spark: SparkSession, sf_dir: str, root: str):
    """Create the snapshot table at ``root`` that the snapshot entries
    (and streaming.pipeline.run_bounded_snapshot_view) share — the
    ``o_orderkey < 4000`` orders slice hashed into 8 key buckets — and
    commit it as snapshot 0. Returns (table, seeded frame with its
    ``bucket`` column)."""
    from ..sources.snapshot import SnapshotTable, bucket_of

    table = SnapshotTable(
        root,
        "bucket int, o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double",
        8,
    )
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .withColumn("bucket", bucket_of("o_orderkey", table.n_buckets))
    )
    table.commit(base, 0)
    return table, base


def _orders_upsert(base: DataFrame) -> DataFrame:
    """The snapshot-1 upsert tranche of the seeded orders slice: +50 on
    the ``o_orderkey % 10 == 7`` rows."""
    return base.filter(F.col("o_orderkey") % 10 == 7).withColumn(
        "o_totalprice", F.col("o_totalprice") + 50
    )


def _commit_upsert(spark: SparkSession, table, upd: DataFrame, sid: int, **kw) -> None:
    """Commit the updated rows ``upd`` as snapshot ``sid``, rewriting
    only the buckets they touch (their other rows carried over);
    ``kw`` passes through to ``SnapshotTable.commit``."""
    upd = upd.localCheckpoint()  # consumed twice: touched buckets + merge
    touched = [r[0] for r in upd.select("bucket").distinct().collect()]
    prev = table.read(spark, buckets=touched)
    merged = prev.join(
        F.broadcast(upd.select("o_orderkey")), "o_orderkey", "left_anti"
    ).unionByName(upd.select(*prev.columns))
    table.commit(merged, sid, **kw)


def _commit_mixed_tranche(spark: SparkSession, table, base: DataFrame) -> None:
    """Commit snapshot 1 of the seeded orders table as one mixed CDC
    tranche — the :func:`_orders_upsert` update, a delete of the %10=3
    keys, inserts of the %10=1 rows at key + 100000 — rewriting only
    the touched buckets (one left empty is emptied explicitly)."""
    from ..sources.snapshot import bucket_of

    upd = _orders_upsert(base)
    dele = base.filter(F.col("o_orderkey") % 10 == 3).select("o_orderkey")
    ins = (
        base.filter(F.col("o_orderkey") % 10 == 1)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000)
        .withColumn("bucket", bucket_of("o_orderkey", table.n_buckets))
    )
    changes = upd.unionByName(ins).localCheckpoint()
    keys_out = changes.select("o_orderkey").unionByName(dele)
    touched = [
        r[0]
        for r in changes.select("bucket")
        .unionByName(
            base.join(F.broadcast(dele), "o_orderkey", "left_semi")
            .select("bucket")
        )
        .distinct()
        .collect()
    ]
    prev = table.read(spark, buckets=touched)
    merged = (
        prev.join(F.broadcast(keys_out), "o_orderkey", "left_anti")
        .unionByName(changes.select(*prev.columns))
        .localCheckpoint()
    )
    kept = {r[0] for r in merged.select("bucket").distinct().collect()}
    table.commit(merged, 1, emptied_buckets=sorted(set(touched) - kept))


def _roundtrip(
    spark: SparkSession, sf_dir: str, table: str, fmt: str, **read_opts
) -> DataFrame:
    src = load_table(spark, sf_dir, table)
    out = os.path.join(_scratch(f"src_{fmt}_"), table)
    src.write.mode("overwrite").format(fmt).options(**read_opts).save(out)
    return (
        spark.read.format(fmt)
        .options(**read_opts)
        .schema(src.schema)  # pin: CSV would otherwise infer strings
        .load(out)
    )


@register(
    "source_csv_roundtrip",
    oracle="""
SELECT n_regionkey, count(*) AS n_nations,
       CAST(min(n_name) AS VARCHAR) AS first_nation
FROM nation GROUP BY n_regionkey
""",
    tags=("source", "csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV (with header) → re-read with pinned schema →
    aggregate; value-hash equality with the parquet-derived oracle
    proves the CSV writer/parser preserve ints and strings exactly."""
    back = _roundtrip(spark, sf_dir, "nation", "csv", header="true")
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


@register(
    "source_json_roundtrip",
    oracle=f"""
SELECT s_nationkey, count(*) AS n_suppliers,
       {sql_dec_sum("s_acctbal")} AS total_acctbal
FROM supplier GROUP BY s_nationkey
""",
    tags=("source", "json"),
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → JSON lines → re-read (schema pinned: JSON alone
    cannot distinguish int widths) → aggregate with exact decimal sums
    — doubles survive the text round-trip because Spark prints them
    shortest-roundtrip."""
    back = _roundtrip(spark, sf_dir, "supplier", "json")
    from .compat import dec_sum

    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        dec_sum(F.col("s_acctbal")).alias("total_acctbal"),
    )


@register(
    "source_orc_roundtrip",
    oracle=f"""
SELECT c_mktsegment, count(*) AS n_customers,
       {sql_dec_sum("c_acctbal")} AS total_acctbal
FROM customer GROUP BY c_mktsegment
""",
    tags=("source", "orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → ORC → re-read → aggregate (the second columnar
    format: schema travels with the file, so no pinning needed — kept
    anyway for uniformity)."""
    back = _roundtrip(spark, sf_dir, "customer", "orc")
    from .compat import dec_sum

    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        dec_sum(F.col("c_acctbal")).alias("total_acctbal"),
    )


@register(
    "source_binaryfile_scan",
    oracle="""
SELECT count(*) AS n_files,
       CAST(SUM(length(text) + 1) AS BIGINT) AS total_bytes
FROM documents WHERE doc_id < 100
""",
    tags=("source", "binaryfile", "multimodal"),
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source (SURVEY §2.10 — multimodal ingestion):
    documents written one-file-per-doc (partitioned text write), then
    scanned back as whole-file binary payloads. The oracle knows each
    file's exact size (text + the writer's trailing newline), so the
    aggregate gates both the file fan-out and payload lengths. At
    100 TB this is the ingress path for image/audio blobs — file
    listing parallelizes across executors, payloads never shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = os.path.join(_scratch("src_binf_"), "docs")
    docs.select("doc_id", "text").write.mode("overwrite").partitionBy(
        "doc_id"
    ).text(out)
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "part-*")
        .load(out)
    )
    return files.agg(
        F.count("*").alias("n_files"),
        F.sum("length").cast("long").alias("total_bytes"),
    )


@register(
    "source_text_roundtrip",
    oracle="""
SELECT count(*) AS n_lines,
       CAST(min(p_name) AS VARCHAR) AS first_line,
       CAST(SUM(length(p_name)) AS BIGINT) AS total_chars
FROM part
""",
    tags=("source", "text"),
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part names → line-oriented ``text`` format (one string column,
    one line per row — the log-file ingress shape) → re-read →
    aggregate. Valid because p_name is newline-free; the oracle over
    the original parquet gates every byte through the writer/reader."""
    p = load_table(spark, sf_dir, "part")
    out = os.path.join(_scratch("src_text_"), "names")
    p.select(F.col("p_name").alias("value")).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.min("value").alias("first_line"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
    )


@register(
    "source_schema_evolution_merge",
    oracle=f"""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE '<pre-evolution>' END
         AS status,
       count(*) AS n_orders,
       {sql_dec_sum("o_totalprice")} AS total_price
FROM orders
GROUP BY 1
""",
    tags=("source", "schema-evolution"),
)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a landing zone: an old writer produced
    (o_orderkey, o_totalprice); a later writer added o_orderstatus.
    ``mergeSchema`` reconciles the footers — the added column reads as
    NULL for pre-evolution files — and the aggregate over the merged
    view must hash-equal the oracle recomputed from the original table.
    At 100 TB this is the append-only ingest reality: readers must not
    require a table rewrite when producers add columns. (Schema merge
    is a footer-only operation; the data pages of old files are never
    touched.)"""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    out = os.path.join(_scratch("src_evolve_"), "orders")
    src.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderstatus").write.mode(
        "overwrite"
    ).parquet(out)
    src.filter(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    from .compat import dec_sum

    return merged.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("<pre-evolution>")).alias(
            "status"
        )
    ).agg(
        F.count("*").alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "source_csv_corrupt_permissive",
    oracle="""
SELECT CAST(count(*) + 3 AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(SUM(n_regionkey) AS BIGINT) AS sum_regionkey
FROM nation
""",
    tags=("source", "csv", "corrupt", "permissive"),
)
def source_csv_corrupt_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling: a CSV landing zone polluted with three
    type-violating lines, read in PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` — bad lines land in the corrupt
    column (good columns NULL) instead of failing the job, the batch's
    good rows aggregate exactly as the clean table, and the corrupt
    count is surfaced as data. At 100 TB this is the difference
    between quarantining a few bad producer lines and losing a
    multi-hour ingest to one of them. (FAILFAST remains the right mode
    for the curated store; PERMISSIVE is the edge.)"""
    import os
    import tempfile

    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(_scratch("src_corrupt_"), "nation")
    src.write.mode("overwrite").format("csv").save(out)
    # all three violate the int columns' types — PERMISSIVE marks a
    # line corrupt on unparseable VALUES (mere missing/extra columns
    # just pad or drop, by design)
    bad = spark.createDataFrame(
        [("oops,BADLAND,alsobad",), ("1,TRUNCATED,9.5.3",), ("12bad,NAME,7x",)],
        "value string",
    )
    bad.coalesce(1).write.mode("append").format("text").save(out)
    back = (
        spark.read.format("csv")
        .schema(
            "n_nationkey int, n_name string, n_regionkey int,"
            " _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .load(out)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        (F.count("*") - F.count("_corrupt_record")).alias("n_good"),
        F.sum("n_regionkey").alias("sum_regionkey"),
    )


@register(
    "source_partitioned_pruned_read",
    oracle=f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       count(*) AS n_events, {sql_dec_sum("value")} AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY 1, 2
""",
    tags=("source", "partitioned", "pruning"),
)
def source_partitioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical storage layout exercised end-to-end as a
    query: events written as HIVE-PARTITIONED parquet (one ``day=…``
    directory per day — the layout the flagship meter tables and the
    IVF cell store use), then read back with a day-range predicate that
    must prune to the 7 matching directories BEFORE any file is opened
    (PartitionFilters, asserted in the plan audit). The aggregate is
    gated against the unpartitioned original, so the partition
    round-trip (values→directory keys→values) is verified bit-exact,
    including the timestamp→date boundary semantics.

    At 100 TB this is THE read-cost lever: a 30-day corpus serves a
    7-day query from 23% of its files; everything else (predicate
    pushdown, column pruning) applies after this directory-level cut.
    Partition keys become STRING columns on read (hive-layout
    convention) — the oracle casts identically."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(_scratch("src_part_"), "events_by_day")
    (
        ev.withColumn("day", F.col("ts").cast("date").cast("string"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
    back = (
        spark.read.option("basePath", out)
        .parquet(out)
        # partition values round-trip through directory names; pin the
        # type back to string (partition-type inference would parse
        # them as DATE — same canonical values, but the pinned schema
        # keeps the contract explicit)
        .withColumn("day", F.col("day").cast("string"))
        .filter(
            (F.col("day") >= "2024-01-08") & (F.col("day") <= "2024-01-14")
        )
    )
    return back.groupBy("day", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "join_bucketed_sortmerge_revenue",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS order_count,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
         AS total_revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
    tags=("join", "layout", "scale-path", "scale"),
)
def join_bucketed_sortmerge_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer order revenue off bucketed layouts: orders and customer
    are both written CLUSTERED BY (custkey) INTO 8 BUCKETS once
    (sources.bucketed, fingerprint-cached), so the join AND the
    per-customer aggregate both ride the bucket partitioning — the
    whole plan has ZERO Exchange (plan-audited). This is the 100 TB
    fact⋈dim shape: at scale `customer` is far past broadcast size, and
    an unbucketed SMJ would shuffle 100 TB of orders every run; the
    bucketed layout pays one layout write, then every revenue/retention/
    RFM query on custkey is shuffle-free forever (analog: ref
    core.clj:21-24 keys the physical layout on host_id for the same
    reason). The MERGE hint pins SortMergeJoin — at sf0.01 the planner
    would broadcast the small dimension, which hides exactly the
    exchange this layout exists to eliminate."""
    from ..sources.bucketed import bucketed_table

    o = spark.table(bucketed_table(spark, sf_dir, "orders", "o_custkey"))
    c = spark.table(bucketed_table(spark, sf_dir, "customer", "c_custkey"))
    return (
        c.hint("MERGE")
        .join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("*").alias("order_count"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_revenue"),
        )
    )


@register(
    "source_python_datasource_rollup",
    oracle="""
WITH j AS (
  SELECT CAST(floor(SUM(CAST(i % 120 AS DOUBLE)) / 15000) AS INT) AS joules
  FROM range(15000) t(i)
),
g AS (
  SELECT CAST(42000 + (i // 3600) AS INT) AS said,
         1356998400 + (i % 3600) AS epoch,
         j.joules
  FROM range(0, 14400) t(i), j
)
SELECT said,
       CAST((epoch // 60) * 60 AS BIGINT) AS minute_epoch,
       CAST(SUM(joules) AS BIGINT) AS joules_minute,
       CAST(COUNT(*) AS BIGINT) AS n_seconds
FROM g GROUP BY 1, 2
""",
    tags=("source", "datasource-v2", "generator"),
)
def source_python_datasource_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The meter generator served through Spark's Python DataSource V2
    API (sources/meter_datasource.py): 4 meters × 1 hour read via
    ``spark.read.format("meter_samples_py")`` — one InputPartition per
    meter (genuinely parallel, meter-clustered arrow batches) — then
    the K3 minute rollup on top. The oracle re-derives the identical
    rows from the sawtooth formula in pure SQL, so a green hash proves
    the pluggable source path (schema negotiation, options, partition
    fan-out, arrow transfer) delivers exactly the generator's data.
    At 100 TB the same class reads a meter fleet in parallel the way
    the Cassandra connector (io.py) would — this is the extensibility
    seam, exercised."""
    from ..sources.meter_datasource import register_meter_datasource

    register_meter_datasource(spark)
    src = (
        spark.read.format("meter_samples_py")
        .option("num_meters", 4)
        .option("seconds", 3600)
        .load()
    )
    return (
        src.groupBy(
            "said",
            F.expr("CAST((epoch DIV 60) * 60 AS BIGINT)").alias("minute_epoch"),
        )
        .agg(
            F.sum("joules").cast("long").alias("joules_minute"),
            F.count("*").alias("n_seconds"),
        )
    )


@register(
    "streaming_python_datasource_rollup",
    oracle="""
WITH j AS (
  SELECT CAST(floor(SUM(CAST(i % 120 AS DOUBLE)) / 15000) AS INT) AS joules
  FROM range(15000) t(i)
),
g AS (
  SELECT CAST(42000 + (i // 3600) AS INT) AS said,
         1356998400 + (i % 3600) AS epoch,
         j.joules
  FROM range(0, 14400) t(i), j
)
SELECT said,
       CAST((epoch // 60) * 60 AS BIGINT) AS minute_epoch,
       CAST(SUM(joules) AS BIGINT) AS joules_minute,
       CAST(COUNT(*) AS BIGINT) AS n_seconds
FROM g GROUP BY 1, 2
""",
    tags=("streaming", "source", "datasource-v2"),
)
def streaming_python_datasource_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The custom Python STREAMING source driven to completion: the
    same generator feed as source_python_datasource_rollup, but
    arriving as offset-tracked micro-batches (900 ticks each) through
    ``DataSourceStreamReader`` into a checkpointed parquet sink —
    Spark's source-offset + sink-commit machinery providing
    exactly-once. Gated against the IDENTICAL oracle as the batch read:
    streaming ≡ batch for the pluggable source seam, the engine's
    Kafka-shaped ingress contract exercised without Kafka."""
    from ..streaming.pipeline import run_bounded_python_source_stream

    return run_bounded_python_source_stream(
        spark, num_meters=4, seconds=3600, ticks_per_batch=900
    )


@register(
    "source_xml_roundtrip",
    oracle=f"""
SELECT p_brand, count(*) AS n_parts,
       CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size,
       {sql_dec_sum("p_retailprice")} AS total_retail
FROM part GROUP BY p_brand
""",
    tags=("source", "xml"),
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → XML (Spark 4's NATIVE xml source — one <part> element
    per row under a collection root) → re-read with rowTag + pinned
    schema → aggregate. Completes the format matrix beside
    csv/json/orc/text/binary/parquet: value-hash equality with the
    parquet-derived oracle proves element text round-trips ints,
    strings, and shortest-repr doubles exactly. The reader is a real
    distributed source (splittable by element), not a driver-side
    parse."""
    src = load_table(spark, sf_dir, "part")
    out = os.path.join(_scratch("src_xml_"), "part")
    src.write.mode("overwrite").format("xml").option("rowTag", "part").save(
        out
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "part")
        .schema(src.schema)
        .load(out)
    )
    from .compat import dec_sum

    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("p_size").cast("long")).alias("total_size"),
        dec_sum(F.col("p_retailprice")).alias("total_retail"),
    )


@register(
    "source_avro_roundtrip",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey < 4000
""",
    tags=("source", "avro"),
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders slice → Avro Object Container Files → decode → rows,
    value-hash-gated against the original parquet: proves longs,
    strings, binary64 doubles, and timestamp-micros round-trip the
    container bit-exactly, including raw-deflate block compression.

    The `spark-avro` DataSource is an external jar this no-network
    environment cannot fetch (documented in README), so the engine
    ships its own OCF codec (sources.avro_codec — real bytes per the
    public Avro 1.11 spec: magic/metadata-map/sync-marker framing,
    zigzag varints, deflate codec) behind the same Arrow seam as the
    BMP/WAV/PNG/GIF codecs: both directions run as distributed
    ``mapInPandas`` stages (one container per Arrow batch, the 100 TB
    landing-zone shape — files ride executor-side, only the bounded
    blob schema crosses stages), never a driver-side loop. With the
    JVM package installed the two mapInPandas stages collapse to
    ``.write.format("avro")`` / ``.read.format("avro")`` unchanged."""
    from ..sources.avro_codec import ocf_decode, ocf_encode, record_schema

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    schema_json = record_schema(
        "order",
        [
            ("o_orderkey", "long"),
            ("o_custkey", "long"),
            ("o_orderstatus", "string"),
            ("o_totalprice", "double"),
            ("o_orderdate", "timestamp-micros"),
            ("o_orderpriority", "string"),
        ],
    )
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(*cols)
        .repartition(8, "o_orderkey")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = list(
                zip(
                    pdf["o_orderkey"].astype("int64"),
                    pdf["o_custkey"].astype("int64"),
                    pdf["o_orderstatus"],
                    pdf["o_totalprice"].astype("float64"),
                    pdf["o_orderdate"]
                    .astype("datetime64[us]")
                    .astype("int64"),
                    pdf["o_orderpriority"],
                )
            )
            yield pd.DataFrame(
                {
                    "n_rows": [len(rows)],
                    "payload": [ocf_encode(schema_json, rows)],
                }
            )

    blobs = src.mapInPandas(encode, schema="n_rows long, payload binary")

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["payload"]:
                _, rows = ocf_decode(bytes(blob))
                out = pd.DataFrame(rows, columns=cols)
                out["o_orderdate"] = pd.to_datetime(
                    out["o_orderdate"], unit="us"
                )
                yield out

    return blobs.mapInPandas(
        decode,
        schema=(
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string"
        ),
    )


#: the day the backfill corrects (present in every SF's events table)
BACKFILL_DAY = "2024-01-02"


@register(
    "source_backfill_dynamic_overwrite",
    oracle=f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(
         CASE WHEN CAST(ts AS DATE) = DATE '{BACKFILL_DAY}'
              THEN value * 2 ELSE value END
         AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
""",
    tags=("source", "backfill", "partition-overwrite"),
)
def source_backfill_dynamic_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Idempotent single-day BACKFILL — the daily-orchestrator
    operation every 100 TB landing zone lives by: the events table is
    written day-partitioned, then one day's rows are re-derived
    (here: the {BACKFILL_DAY} values doubled, standing in for a
    correction) and INSERT-OVERWRITTEN under
    ``partitionOverwriteMode=dynamic`` — ONLY that day's partition is
    replaced; every other day's files are physically untouched (the
    static default would truncate the whole table first — the classic
    production foot-gun; the untouched-files property is pinned by a
    filesystem-level unit in tests/test_layout.py). The read-back
    per-day aggregate is gated against the oracle that derives the
    corrected state from the source directly — so the gate covers the
    layout round-trip AND the overwrite scoping: had the backfill
    clobbered or duplicated any other day, counts or sums would
    mismatch. Re-running the backfill converges (overwrite, not
    append) — the at-least-once scheduler contract.

    Scale shape: both writes are one narrow projection + partitioned
    write; the corrected frame's shuffle is one day's rows, not the
    table."""
    from ..sources.layout import (
        backfill_day_dynamic_overwrite,
        write_events_day_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    out = os.path.join(_scratch("src_backfill_"), "events_by_day")
    write_events_day_partitioned(ev, out)
    corrected = ev.where(
        F.col("ts").cast("date") == F.lit(BACKFILL_DAY).cast("date")
    ).withColumn("value", F.col("value") * 2)
    backfill_day_dynamic_overwrite(corrected, out)
    back = spark.read.option("basePath", out).parquet(out)
    return back.groupBy(
        F.col("day").cast("string").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"
        ).alias("sum_value"),
    )


@register(
    "source_snapshot_table_roundtrip",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT CAST(0 AS INT) AS snapshot_id,
       o_orderkey, o_orderstatus, o_totalprice
FROM base
UNION ALL
SELECT CAST(1 AS INT) AS snapshot_id,
       o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 7
            THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
FROM base
""",
    tags=("source", "lakehouse", "cdc", "time-travel"),
)
def source_snapshot_table_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lakehouse-format slice built from scratch
    (sources.snapshot.SnapshotTable — Delta/Iceberg jars are
    unfetchable here, same disposition as spark-avro → own codec):
    seed an orders slice as snapshot 0, apply an upsert tranche
    (+50 on %10=7 keys) as snapshot 1 REWRITING ONLY THE TOUCHED
    KEY-BUCKETS (untouched buckets carry forward by manifest
    reference, files byte-identical), then TIME-TRAVEL: read AS OF
    snapshot 0 after snapshot 1 is committed, plus the current state.
    The value-hash gate covers atomic commit, manifest-planned reads,
    partial-rewrite scoping (a clobbered untouched bucket would
    corrupt snapshot 0's rows), and as-of resolution.

    Scale: readers plan from the manifest alone (no data-tree
    listing); an upsert's cost is O(touched buckets), the economics
    that make dimension maintenance viable at 100 TB."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snaptbl_"), "orders_snap")
    )
    _commit_upsert(spark, table, _orders_upsert(base), 1)
    as_of_0 = table.read(spark, as_of=0).drop("bucket").withColumn(
        "snapshot_id", F.lit(0)
    )
    current = table.read(spark).drop("bucket").withColumn(
        "snapshot_id", F.lit(1)
    )
    return as_of_0.unionByName(current).select(
        "snapshot_id", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "source_snapshot_compaction_roundtrip",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 50
            WHEN o_orderkey % 10 = 3 THEN o_totalprice + 25
            ELSE o_totalprice END AS o_totalprice
FROM base
""",
    tags=("source", "lakehouse", "compaction"),
)
def source_snapshot_compaction_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot-table MAINTENANCE lifecycle, value-hash gated end to
    end: seed an orders slice (snapshot 0), apply two partial-rewrite
    upsert tranches (+50 on %10=7 at snapshot 1, +25 on %10=3 at
    snapshot 2 — each rewriting only touched buckets), then COMPACT
    the accumulated small files to one file per bucket (snapshot 3),
    EXPIRE the pre-compaction manifests (trim the time-travel window)
    and VACUUM the now-orphaned data files. The returned frame reads
    the table AFTER all three maintenance steps, so a compaction that
    corrupted content, an expiry that broke the retained manifest, or
    a vacuum that deleted a still-referenced file all fail the hash
    (or the read itself). File-count and fs-level claims are pinned by
    tests/test_snapshot.py; this query gates the content contract.

    Scale: compaction reads each bucket once and writes it once (one
    shuffle on the bucket key); expire/vacuum are manifest-driven
    metadata ops — no data scan. This is the bounded-hygiene story the
    streaming commit-log tables document, realized on the lakehouse
    format."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snapcompact_"), "orders_snap")
    )
    _commit_upsert(spark, table, _orders_upsert(base), 1)
    # the second tranche applies over snapshot-1 state
    upd = table.read(spark).filter(F.col("o_orderkey") % 10 == 3)
    _commit_upsert(
        spark, table, upd.withColumn("o_totalprice", F.col("o_totalprice") + 25.0), 2
    )
    table.compact(spark, 3)
    table.expire(keep_from=3)
    table.vacuum()
    return table.read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "source_snapshot_schema_evolution",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CASE WHEN o_orderkey % 10 = 7
            THEN (CASE WHEN o_totalprice >= 150000
                       THEN 'high' ELSE 'std' END)
            ELSE 'unknown' END AS price_tier
FROM base
""",
    tags=("source", "lakehouse", "schema-evolution"),
)
def source_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADD-COLUMN schema evolution on the snapshot table — the only
    lakehouse-safe kind: snapshot 1 evolves the schema with a
    ``price_tier`` column computed for the %10=7 rows it rewrites;
    every other row lives in files written BEFORE the column existed
    and is NEVER rewritten — the schema-pinned parquet read fills the
    missing column with null and the reader applies the declared
    default ('unknown'). The hash gate covers the whole contract: an
    old file wrongly rewritten, a null leaking past the default, or a
    tier computed for an untouched row all fail.

    Scale: evolving a 100 TB table costs one manifest write — zero
    data-file rewrites; the default is applied at read."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snapevolve_"), "orders_snap")
    )
    upd = base.filter(F.col("o_orderkey") % 10 == 7).localCheckpoint()
    touched = [r[0] for r in upd.select("bucket").distinct().collect()]
    prev = table.read(spark, buckets=touched)
    merged = prev.withColumn(
        "price_tier",
        F.when(
            F.col("o_orderkey") % 10 == 7,
            F.when(F.col("o_totalprice") >= 150000, F.lit("high"))
            .otherwise(F.lit("std")),
        ),
    )
    table.commit(
        merged,
        1,
        schema="bucket int, o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double, price_tier string",
    )
    return table.read(spark).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.coalesce("price_tier", F.lit("unknown")).alias("price_tier"),
    )


@register(
    "source_snapshot_delete_compliance",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM base WHERE o_orderkey % 10 <> 3
""",
    tags=("source", "lakehouse", "compliance", "delete"),
)
def source_snapshot_delete_compliance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compliance (right-to-be-forgotten) delete on the snapshot
    table: snapshot 1 rewrites the touched buckets WITHOUT the %10=3
    keys (a bucket left with zero survivors is emptied explicitly via
    ``emptied_buckets``), then expire + vacuum PHYSICALLY remove every
    file that still contains the deleted rows — after this query no
    parquet file under the table root holds them, which is the actual
    legal requirement (a logical delete that leaves old files
    time-travelable is non-compliant). The hash gate pins the survivor
    content; the physical-erasure claim is pinned by the
    test_snapshot.py unit that greps the surviving files.

    Scale: cost is O(buckets containing deleted keys) + metadata —
    the same partial-rewrite economics as any upsert."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snapdelete_"), "orders_snap")
    )
    doomed = base.filter(F.col("o_orderkey") % 10 == 3).localCheckpoint()
    touched = [r[0] for r in doomed.select("bucket").distinct().collect()]
    prev = table.read(spark, buckets=touched)
    survivors = prev.join(
        F.broadcast(doomed.select("o_orderkey")),
        "o_orderkey",
        "left_anti",
    ).localCheckpoint()
    kept = {
        r[0] for r in survivors.select("bucket").distinct().collect()
    }
    table.commit(
        survivors, 1, emptied_buckets=sorted(set(touched) - kept)
    )
    table.expire(keep_from=1)
    table.vacuum()
    return table.read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "source_snapshot_incremental_diff",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT 'update' AS change_type, o_orderkey,
       o_totalprice AS old_totalprice,
       o_totalprice + 50 AS new_totalprice
FROM base WHERE o_orderkey % 10 = 7
UNION ALL
SELECT 'delete' AS change_type, o_orderkey,
       o_totalprice AS old_totalprice,
       CAST(NULL AS DOUBLE) AS new_totalprice
FROM base WHERE o_orderkey % 10 = 3
UNION ALL
SELECT 'insert' AS change_type, o_orderkey + 100000 AS o_orderkey,
       CAST(NULL AS DOUBLE) AS old_totalprice,
       o_totalprice AS new_totalprice
FROM base WHERE o_orderkey % 10 = 1
""",
    tags=("source", "lakehouse", "cdc", "incremental"),
)
def source_snapshot_incremental_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC READ from the snapshot table — the manifest-level change
    feed: apply one mixed tranche (update %10=7 +50, delete %10=3,
    insert %10=1 copies at key+100000) as snapshot 1, then derive the
    row-level diff reading ONLY the buckets whose file lists differ
    between the two manifests (``SnapshotTable.changed_buckets`` —
    pure metadata). Old/new versions of just those buckets full-outer
    join on the key; unchanged rows inside changed buckets fall out of
    the value comparison. The hash gate covers all three change types
    and the pruning (a missed changed bucket loses diff rows; a
    clobbered untouched bucket invents them).

    Scale: a downstream sync of a 100 TB table reads O(changed
    buckets), never the table — the manifest diff is the plan."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snapdiff_"), "orders_snap")
    )
    _commit_mixed_tranche(spark, table, base)
    # --- the CDC read: manifest diff -> bucket-pruned row diff ---
    cb = table.changed_buckets(0, 1)
    old = table.read(spark, as_of=0, buckets=cb).select(
        "o_orderkey", F.col("o_totalprice").alias("old_totalprice")
    )
    new = table.read(spark, as_of=1, buckets=cb).select(
        "o_orderkey", F.col("o_totalprice").alias("new_totalprice")
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return j.where(
        F.col("old_totalprice").isNull()
        | F.col("new_totalprice").isNull()
        | (F.col("old_totalprice") != F.col("new_totalprice"))
    ).select(
        F.when(F.col("old_totalprice").isNull(), F.lit("insert"))
        .when(F.col("new_totalprice").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        "o_orderkey",
        "old_totalprice",
        "new_totalprice",
    )


@register(
    "source_snapshot_incremental_agg",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
),
v1 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 7
              THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % 10 <> 3
  UNION ALL
  SELECT o_orderkey + 100000, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % 10 = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_totalprice
FROM v1 GROUP BY o_orderstatus
""",
    tags=("source", "lakehouse", "cdc", "incremental", "materialized-view"),
)
def source_snapshot_incremental_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the snapshot
    table's change feed: a downstream per-status (count, sum) aggregate
    is seeded from snapshot 0, then UPDATED USING ONLY THE CHANGED
    BUCKETS of snapshot 1 — new-version partials added, old-version
    partials subtracted (count and decimal-sum are Abelian-group
    aggregates, so delta maintenance is exact) — and the maintained
    view is returned, gated against the oracle that aggregates the
    snapshot-1 state directly. A missed changed bucket, a double-
    counted delta, or a subtraction in the wrong numeric space all
    fail the hash (sums ride DECIMAL(18,4) end to end and only cast to
    double at the boundary, so add-then-subtract cancels exactly).

    Scale: the downstream view of a 100 TB table refreshes by reading
    O(changed buckets) — the manifest diff is the refresh plan; the
    full-table aggregation never re-runs after the seed."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snapivm_"), "orders_snap")
    )

    def partials(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            (F.count("*") * sign).cast("long").alias("n_orders"),
            F.sum(
                F.col("o_totalprice").cast("decimal(18,4)") * sign
            ).alias("sum_dec"),
        )

    # seed the downstream view from snapshot 0 (the one full pass)
    view0 = partials(table.read(spark), 1).localCheckpoint()

    _commit_mixed_tranche(spark, table, base)

    # --- the incremental refresh: changed buckets only ---
    cb = table.changed_buckets(0, 1)
    minus = partials(table.read(spark, as_of=0, buckets=cb), -1)
    plus = partials(table.read(spark, as_of=1, buckets=cb), 1)
    refreshed = (
        view0.unionByName(minus)
        .unionByName(plus)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("sum_dec").alias("sum_dec"),
        )
        .where(F.col("n_orders") > 0)
    )
    return refreshed.select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_dec").cast("double").alias("sum_totalprice"),
    )


@register(
    "source_snapshot_stats_pruned_scan",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_totalprice
FROM base
WHERE o_orderkey BETWEEN 1000 AND 1499
GROUP BY o_orderstatus
""",
    tags=("source", "lakehouse", "stats-pruning"),
)
def source_snapshot_stats_pruned_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANIFEST FILE-STATS data skipping (Iceberg-style): the orders
    slice is committed RANGE-bucketed (bucket = o_orderkey DIV 500 —
    the bucketing function is the caller's; range buckets cluster the
    key so per-file [min, max] footers are tight), each file's min/max
    lands in the manifest at commit time, and the reader with
    ``between=(o_orderkey, 1000, 1499)`` skips every file whose range
    is provably disjoint BEFORE any data I/O — at this layout 7 of 8
    files never open (the unit pins the count). The hash gate proves
    pruning loses no rows: the aggregate over the pruned read must
    equal the oracle over the full table with the same predicate.

    Scale: a 100 TB table with range-clustered keys answers a range
    query by opening O(files overlapping the range) — the manifest is
    the index; under HASH bucketing stats prune nothing and the unit
    keeps that honest."""
    from ..sources.snapshot import SnapshotTable

    n_buckets = 8
    root = os.path.join(_scratch("src_snapstats_"), "orders_snap")
    table = SnapshotTable(
        root,
        "bucket int, o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double",
        n_buckets,
        stats_cols=("o_orderkey",),
    )
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .withColumn(
            "bucket", (F.col("o_orderkey") / 500).cast("int")
        )
        .repartition("bucket")  # one file per range bucket: tight stats
    )
    table.commit(base, 0)
    pruned = table.read(
        spark, between=("o_orderkey", 1000, 1499)
    ).where(F.col("o_orderkey").between(1000, 1499))
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_totalprice"),
    )


@register(
    "source_snapshot_delete_mor",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM base WHERE o_orderkey % 10 <> 3
""",
    tags=("source", "lakehouse", "compliance", "delete", "merge-on-read"),
)
def source_snapshot_delete_mor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE-ON-READ delete — the scattered-delete dual of
    ``source_snapshot_delete_compliance`` (same oracle, so both delete
    paths are pinned to one truth): snapshot 1 appends the %10=3 keys
    as TOMBSTONE DELETE FILES (SnapshotTable.commit_delete — O(deleted
    rows) bytes, no base file opened or rewritten; the byte-identity
    unit pins that on disk), and the gated read is the MOR plan
    itself: base files anti-joined against the tombstones on
    (bucket, key) at plan time. Physical erasure is DEFERRED to the
    next compaction of each bucket (unit-pinned lifecycle), which is
    the lakehouse compliance posture: the delete is cheap and
    immediate in every read; the rewrite amortizes into maintenance.

    Scale: a GDPR-style delete of k rows scattered across a 100 TB
    table writes O(k) tombstone bytes where the copy-on-write path
    rewrites every bucket containing one — the ledger probe measures
    the gap; reads pay one small anti-join until compaction folds it
    away."""
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(_scratch("src_snapmor_"), "orders_snap")
    )
    doomed = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "bucket", "o_orderkey"
    )
    table.commit_delete(doomed, 1, key_cols=("o_orderkey",))
    return table.read(spark, as_of=1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "source_snapshot_rebucket_roundtrip",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 7
            THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
FROM base
""",
    tags=("source", "lakehouse", "migration", "rebucket"),
)
def source_snapshot_rebucket_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RE-BUCKET MIGRATION as a performed, value-hash-gated operation
    (not a docstring promise): build the 8-bucket orders table with an
    upsert tranche (+50 on %10=7 — partial rewrite, CAS-guarded via
    ``expected_parent``), then migrate it to a 32-bucket table root
    (SnapshotTable.rebucket: read → re-key every row's bucket by the
    new hash → one shuffle → commit to the new root) and return the
    MIGRATED table's read. A row landed in the wrong new bucket, lost,
    or duplicated in flight fails the hash; the per-row
    bucket==hash(key) invariant and tombstone folding are unit-pinned.

    Scale: this is how the fixture's 16-bucket streaming state tables
    become 4096-bucket tables at 100 TB — an offline one-shuffle job
    against the old root while it keeps serving, then an atomic
    pointer cutover; the old table is never mutated."""
    scratch = _scratch("src_snaprebucket_")
    table, base = _seed_orders_snapshot(
        spark, sf_dir, os.path.join(scratch, "orders_snap")
    )
    _commit_upsert(
        spark, table, _orders_upsert(base), 1, expected_parent=table.latest()
    )
    migrated = table.rebucket(
        spark, os.path.join(scratch, "orders_snap_32"), "o_orderkey", 32
    )
    return migrated.read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "streaming_snapshot_incremental_agg",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 4000
),
v1 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 7
              THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % 10 <> 3
  UNION ALL
  SELECT o_orderkey + 100000, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % 10 = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_totalprice
FROM v1 GROUP BY o_orderstatus
""",
    tags=(
        "source",
        "lakehouse",
        "cdc",
        "incremental",
        "materialized-view",
        "streaming",
    ),
)
def streaming_snapshot_incremental_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SNAPSHOT CHANGE FEED AS A STREAM — the streaming completion
    of ``source_snapshot_incremental_agg`` (VERDICT r13 next-round #5):
    the source table publishes three snapshots of three DIFFERENT
    commit kinds (partial-rewrite upsert, merge-on-read tombstone
    delete, LSM append), a bounded stream tails one trigger per
    snapshot id, and each micro-batch advances the maintained
    per-status (count, decimal-sum) view by reading ONLY the buckets
    the manifest diff reports between the last applied and the newest
    delivered snapshot (streaming.pipeline.snapshot_view_batch_fn).
    Exactly-once keys on the APPLIED SOURCE SNAPSHOT id, so replayed
    trigger files are no-ops (poisoned-replay unit). Gated by the
    oracle that aggregates the final table state directly — identical
    maths to the batch refresh, so batch and streaming maintenance
    are pinned to one truth.

    Scale: this is Delta-style "stream from a table": the consumer
    reads O(changed buckets) per trigger, never the table; the seed
    aggregation runs once."""
    from ..streaming.pipeline import run_bounded_snapshot_view

    return run_bounded_snapshot_view(spark, sf_dir)
