"""Fixed schemas.

Group A mirrors the reference DDL (setup_and_notes.txt:16-44): five
tables all keyed (said, datetime). Cassandra COUNTER columns become
LongType maintained by grouped sums (SURVEY §1.2). Group B is the
driver-provided corpus (TESTDATA.md / FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- Group A: meter domain (reference setup_and_notes.txt:16-44) ---

METER_SAMPLES = T.StructType(
    [
        T.StructField("said", T.IntegerType(), False),
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("watts", T.ArrayType(T.FloatType(), False), False),
    ]
)

METER_SAMPLES_SECOND = T.StructType(
    [
        T.StructField("said", T.IntegerType(), False),
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("joules", T.IntegerType(), False),
    ]
)

# --- Group B: driver corpus ---

CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: canonical corpus column types (FIXTURES.md §B). The driver has
#: regenerated parquet with changed physical types mid-build before
#: (events.ts: TIMESTAMP(NANOS) → timestamp[us]-NTZ), so every read
#: coerces to these; tests/test_schemas.py asserts the post-load schema
#: per table per scale factor so the next silent regeneration fails in
#: the repo's own suite, not in the external bench.
CORPUS_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}

#: width of ``embeddings.embedding`` — the one definition the vector
#: operators, their DuckDB oracles, the model store's cache keys and the
#: scaled-corpus generator all read
EMB_DIM = 64


#: plausible corpus epoch range: 1990-01-01 .. 2130-01-01 (UTC seconds)
_EPOCH_LO, _EPOCH_HI = 631152000, 5048352000

def _epoch_to_ts(unit: str, col_name: str) -> F.Column:
    if unit == "s":
        return F.timestamp_seconds(F.col(col_name))
    if unit == "ms":
        return F.timestamp_millis(F.col(col_name))
    if unit == "us":
        return F.timestamp_micros(F.col(col_name))
    # ns: integer DIV — float division would lose precision above 2^53
    return F.timestamp_micros(F.expr(f"{col_name} DIV 1000"))


def _infer_epoch_unit(table: str, col: str, lo, hi) -> str:
    """Pick the epoch unit whose conversion lands BOTH min and max in
    the plausible corpus range; raise a corpus-drift error otherwise."""
    if lo is None:  # empty table — any unit is vacuously fine
        return "us"
    for unit, scale in (("s", 1), ("ms", 10**3), ("us", 10**6), ("ns", 10**9)):
        if (
            _EPOCH_LO * scale <= lo <= _EPOCH_HI * scale
            and _EPOCH_LO * scale <= hi <= _EPOCH_HI * scale
        ):
            return unit
    raise ValueError(
        f"corpus drift: {table}.{col} long values [{lo}, {hi}] match no "
        "epoch unit (s/ms/us/ns) within 1990..2130 — refusing to guess"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Parquet scan → Catalyst pushes filters and
    prunes columns; at cluster scale these would be partitioned/bucketed
    layouts but the read API is identical.

    The returned DataFrame (a lazy, immutable PLAN — no data) is
    memoized per live session: ``spark.read.parquet`` costs ~80 ms of
    py4j + footer/listing work per call, and multi-table queries paid
    it up to six times per build (q05: 0.47 s of pure re-planning).
    Every execution still scans parquet from disk — only the relation
    resolution is reused, never results. The memo lives ON the
    SparkSession object so a stopped session's entries are collected
    with it, and per-table coercion (the drift path below) is resolved
    once per session instead of per query.

    ``events.ts`` has been observed in three physical flavors across
    corpus regenerations — TIMESTAMP(NANOS) (arrives as a nanos long
    under ``spark.sql.legacy.parquet.nanosAsLong``), ``timestamp[us]``
    with no timezone (arrives as TIMESTAMP_NTZ), and plain TIMESTAMP.
    All are normalized to TimestampType here, losslessly under the
    session's pinned UTC, so every downstream plan (`unix_micros`,
    windowing, session gaps) sees one stable type regardless of how the
    driver last wrote the file. DuckDB reads the same file natively, so
    the oracle side agrees by construction."""
    memo: dict = spark.__dict__.setdefault("_graft_table_memo", {})
    key = (sf_dir, name)
    cached = memo.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col_name, want in CORPUS_SCHEMAS.get(name, []):
        if col_name not in df.columns:
            raise ValueError(
                f"corpus drift: {name}.parquet is missing column {col_name!r}"
            )
        have = df.schema[col_name].dataType
        if have.simpleString() == want:
            continue
        if want == "timestamp" and isinstance(have, T.LongType):
            # TIMESTAMP(NANOS) storage read as a nanos long under the
            # nanosAsLong legacy conf — but a regenerated corpus could
            # just as well store epoch seconds/millis/micros as long, so
            # infer the unit from the value magnitude instead of
            # assuming: each unit maps the plausible corpus epoch range
            # (1990..2130) to a disjoint band ~3 orders apart, so min/
            # max pick exactly one. Out-of-band values raise instead of
            # silently scaling 1000× wrong. The one-column min/max scan
            # only runs on the drift path, never on clean reads.
            lo, hi = df.select(F.min(col_name), F.max(col_name)).first()
            unit = _infer_epoch_unit(name, col_name, lo, hi)
            df = df.withColumn(col_name, _epoch_to_ts(unit, col_name))
        else:
            # covers TIMESTAMP_NTZ → TIMESTAMP (lossless under the
            # pinned-UTC session), int-width drift, float/double drift
            df = df.withColumn(col_name, F.col(col_name).cast(want))
    memo[key] = df
    return df
