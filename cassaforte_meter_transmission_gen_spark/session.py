"""SparkSession construction and runtime configuration.

The driver owns the SparkSession for correctness runs, so everything the
engine *needs* (UTC timestamps — the reference formats in UTC,
core.clj:66 — plus AQE and Arrow) is applied as *runtime* conf via
:func:`configure`, callable on any session. :func:`get_spark` is used by
tests/bench where we own the session.

One setting is a *launch* conf instead: ``spark.sql.codegen.cache.maxEntries``
(:data:`CODEGEN_CACHE_ENTRIES`), the size of the JVM-wide LRU cache of
compiled whole-stage classes. It is a static SQL conf, read once when
the JVM first generates code, so ``spark.conf.set`` on a live session
fails (``CANNOT_MODIFY_STATIC_CONFIG``) and it stays out of
:data:`RUNTIME_CONFS`, which :func:`configure` applies and whose
optional entries it lets fail quietly. :func:`get_spark` sets it on the
builder; a driver-owned session passes it at launch, as
``spark-submit --conf spark.sql.codegen.cache.maxEntries=N``. Spark's
default of 100 classes is smaller than one pass of a catalog query mix
(the 9-query ``perfbench`` mix compiles 133 classes), so every
repeated pass evicted and recompiled its own classes: Janino again, then
the C2 JIT again. The results do not depend on it; only warm-pass cost
does.
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

#: the confs results depend on: :func:`configure` raises when one of
#: these cannot be set instead of silently running without it
_REQUIRED_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: entries of Spark's compiled-class cache (the launch conf above). The
#: working set it covers, counted as classes compiled
#: (``CodegenMetrics.METRIC_COMPILATION_TIME().getCount()``) in one
#: session with a 2000-entry cache (nothing evicted) that runs the
#: ``perfbench`` query mix and the 47 timed ``bench.py`` queries at
#: sf0.1, then both again: corpus staging 16, ANN training 45, the mix
#: 133, the 47 queries 644 more, the repeats 21 (plan variants of a few
#: queries); 859 in all (852 at sf0.01). 2000 covers that more than
#: twice over; holding all 859 took 190 MB of metaspace and 112 of the
#: 240 MB of code heaps.
CODEGEN_CACHE_ENTRIES = 2000


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-owned session.

    The AQE and Arrow confs are optional (the engine still functions
    without them, only slower), so a failure to set one is tolerated;
    a failure to set one of ``_REQUIRED_CONFS`` raises, because
    parity with the oracle depends on it."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k in _REQUIRED_CONFS:
                raise RuntimeError(f"cannot set required conf {k}={v}") from e
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """Classes compiled so far in this session's JVM and their total
    compile seconds: Spark's ``CodegenMetrics`` compile count (one per
    compiled-class cache miss) and ``CodeGenerator.compileTime``. Take
    the difference of two reads to attribute compiles to the work
    between them."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e9
