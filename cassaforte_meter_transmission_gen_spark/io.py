"""Sink seam — the reference's Cassandra table family behind one
writer abstraction (SURVEY §2.2 K1-K5; core.clj:100-153).

The reference writes five CQL tables through one prepared-statement
session. The engine's dual is a :class:`TableSink`: the ingest/stream
pipelines hand it (DataFrame, table_name) pairs and the sink decides
format and layout. Two implementations:

- :class:`ParquetSink` — the default and the oracle-testable path:
  each table materializes as parquet under a root directory, rollup
  tables sorted (said, datetime) so point reads skip row groups.
- :class:`CassandraSink` — the reference's actual sink family via the
  public Spark Cassandra Connector (format
  ``org.apache.spark.sql.cassandra`` with ``keyspace``/``table``
  options, plus ``spark.cassandra.connection.host`` on the session).
  The connector jar is not shipped in this environment, so construction
  checks availability and raises a clear error; everything up to the
  final ``.save()`` — DataFrames, schemas, per-table routing — is the
  same code path the parquet sink exercises, which is what the tests
  lock down.

At 100 TB the seam is also where write-side scale policy lives: the
parquet sink keeps the (said, datetime) clustering contract of the
reference's PRIMARY KEY; a connector sink would instead rely on
Cassandra's own partitioner, so no extra shuffle is added on its path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class TableSink:
    """Writer seam: route one logical table write to a physical sink."""

    def write(self, df: DataFrame, table: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError

    def exists(self, table: str) -> bool:
        raise NotImplementedError


class ParquetSink(TableSink):
    """Parquet-per-table under a root dir, each write overwriting the
    table; rollup-grain tables are kept sorted (said, datetime) inside
    files (reference clustering order)."""

    def __init__(self, root: str) -> None:
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, df: DataFrame, table: str) -> None:
        if {"said", "datetime"} <= set(df.columns):
            df = df.sortWithinPartitions("said", "datetime")
        df.write.mode("overwrite").parquet(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.path(table))

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))


#: the public Spark Cassandra Connector's DataSource name
CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"


class CassandraSink(TableSink):
    """The reference's real sink family (keyspace ``disagg``,
    setup_and_notes.txt:8-12) through the public connector.

    Requires the connector on the session classpath
    (``--packages com.datastax.spark:spark-cassandra-connector_2.13``)
    and ``spark.cassandra.connection.host`` set. ``write`` appends —
    Cassandra upserts by primary key, which is exactly the reference's
    INSERT semantics for raw/second tables; COUNTER-table increments
    are NOT expressible through the DataFrame writer, so rollup tables
    must be maintained by the engine (operators.rollups.counter_merge,
    or the parquet streaming path's summed per-batch increments) and
    written as plain tables."""

    def __init__(self, spark: SparkSession, keyspace: str = "disagg") -> None:
        self.keyspace = keyspace
        jvm = spark._jvm  # noqa: SLF001 - availability probe only
        try:
            jvm.java.lang.Class.forName(
                "com.datastax.spark.connector.datasource.CassandraCatalog"
            )
        except Exception as exc:
            raise RuntimeError(
                "Spark Cassandra Connector not on the classpath; launch with "
                "--packages com.datastax.spark:spark-cassandra-connector_2.13 "
                "and set spark.cassandra.connection.host"
            ) from exc

    def write(self, df: DataFrame, table: str) -> None:
        (
            df.write.format(CASSANDRA_FORMAT)
            .options(keyspace=self.keyspace, table=table)
            .mode("append")
            .save()
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return (
            spark.read.format(CASSANDRA_FORMAT)
            .options(keyspace=self.keyspace, table=table)
            .load()
        )

    def exists(self, table: str) -> bool:  # connector DDL is external
        return True
