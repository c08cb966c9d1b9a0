"""SparkSession construction and runtime configuration.

The driver owns the SparkSession for correctness runs, so everything the
engine *needs* (UTC timestamps — the reference formats in UTC,
core.clj:66 — plus AQE and Arrow) is applied as *runtime* conf via
:func:`configure`, callable on any session. :func:`get_spark` is used by
tests/bench where we own the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs settable at runtime on an existing session. UTC is load-bearing
# for oracle parity (DuckDB timestamps are naive; we treat everything as
# UTC wall time). AQE handles skew/coalescing at scale.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects;
    # read as long and convert in schemas.load_table (lossless — the
    # corpus carries no sub-microsecond content).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-owned session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable on this build — engine still functions; UTC
            # only matters for oracle comparison, which the driver runs
            # on sessions where this succeeds.
            pass
    return spark


def get_spark(app_name: str = "cassaforte-spark-engine") -> SparkSession:
    """Session for tests/bench: local[N], shuffle partitions sized to N.

    On a real cluster these builder confs come from spark-submit; nothing
    in the engine assumes local mode.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
