"""Scan-parallelism guard for small / under-split file sources.

A single small parquet file reads as ONE input split (it is below
``spark.sql.files.maxPartitionBytes``, and a one-row-group file cannot
split finer anyway), which serializes every narrow operation stacked on
the scan — per-row regexp tokenization, decimal casts, broadcast-join
probes, partial aggregation — onto one core while the rest of the
cluster idles. ``spread_small_scan`` repartitions such a source to the
session's default parallelism BEFORE the heavy narrow work; the shuffle
of the small raw rows is cheap relative to the compute it parallelizes.

The gate is METADATA-only (``df.inputFiles()`` — a catalog listing —
plus each file's length from its Hadoop ``FileSystem`` status, so any
URI scheme — ``file:``, ``hdfs:``, object stores — is sized the same
way): at 100 TB inputs arrive as many files and/or
enough bytes that the scan splits by ``maxPartitionBytes`` on its own,
so the helper is a structural no-op there — it exists purely to guard
the small-file edge (guide §2.5 "input skew": one huge unsplittable
file, or here one tiny unsplittable file per table).

History: born as ``operators.dedup._spread`` (round 8) for the
shingle-heavy dedup paths; hoisted here in round 14 so the scan-bound
catalog queries (training prep, TPC-H probes, brute-force ANN) share
the same guard instead of re-deriving it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: compressed input bytes per spread task. The spread exists for scans
#: feeding CPU-DENSE narrow work (regexp tokenization, shingle/vector
#: folds) where compute per byte is orders of magnitude above a plain
#: scan, so tasks are sized far below maxPartitionBytes — but not at a
#: flat defaultParallelism: r15 task right-sizing A/Bs (3 interleaved
#: runs each) measured a flat 32-way spread of a 0.5-1 MB table 10-20 %
#: SLOWER steady-state than a bytes-derived count (minhash 1.06/0.86 →
#: 0.80/0.71 s, brute-force ANN 0.33/0.37 → 0.27/0.29 s, prep
#: 0.82/0.91 → 0.76/0.66 s): past the point where every core has real
#: work, extra sub-millisecond tasks only add scheduling and straggler
#: tail. 64 KB compressed ≈ hundreds of documents/vectors per task on
#: this corpus — the count keeps GROWING with input until it caps at
#: default parallelism, so the rule is scale-free, not a core-count
#: tune (and the ≥2 MB/core gate below no-ops the whole helper long
#: before 100 TB).
SPREAD_TASK_BYTES = 64 << 10

#: lower bound so the heavy narrow work always leaves the single-split
#: regime decisively, even for sub-64KB inputs (where the compute per
#: byte is at its most extreme relative to scan cost)
SPREAD_MIN_TASKS = 8


def _input_bytes(spark: SparkSession, files: list[str]) -> int:
    """Total length of ``files`` from their Hadoop FileSystem status."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        total += path.getFileSystem(conf).getFileStatus(path).getLen()
    return total


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` iff it reads from fewer files than there are
    cores AND the bytes are too small for the scan to split on its own
    (≥2 MB compressed per core keeps the columnar scan's own splitting
    / the spread shuffle trade honest). The target count is derived
    from the input bytes (:data:`SPREAD_TASK_BYTES` per task, floored
    at :data:`SPREAD_MIN_TASKS`, capped at default parallelism) — see
    the constant's note for the measured task right-sizing rationale.
    Non-file sources (in-memory test fixtures) and files whose status
    cannot be read get the full-parallelism spread — they are small by
    construction and byte-less."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # non-file plan: can't tell — spread (cheap: small)
        files = []
    if len(files) >= par:
        return df
    try:
        total = _input_bytes(df.sparkSession, files) if files else None
    except Exception:  # unreadable status: spread fully (as byte-less)
        total = None
    if total is None:
        return df.repartition(par)
    if total >= par * (2 << 20):
        return df
    n = min(par, max(min(SPREAD_MIN_TASKS, par), -(-total // SPREAD_TASK_BYTES)))
    return df.repartition(n)
