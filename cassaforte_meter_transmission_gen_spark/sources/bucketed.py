"""Bucketed-parquet catalog tables — the co-located-join layout.

At 100 TB the single biggest shuffle eliminator is bucketing: write the
fact and dimension tables `CLUSTERED BY (join_key) INTO n BUCKETS` once,
and every subsequent equi-join or aggregation on that key reads both
sides pre-partitioned — SortMergeJoin with **zero Exchange** on either
side, and a following groupBy on the same key rides the bucket
partitioning too (HashPartitioning(key) satisfies any clustering that
contains the key). The reference engine gets the same effect from its
partition-key physical layout (ref core.clj:21-24 — `host_id` is the
Cassandra partition key, so per-host reads never reshuffle); this module
is that idea expressed in Spark's catalog.

Bucket metadata lives in the session catalog, not parquet footers, so a
fresh session must re-register the table before Spark will trust the
layout. The cache protocol mirrors sources.ann_store: artifacts are
fingerprint-keyed on the source corpus (size+mtime), a `_SUCCESS` marker
gates reuse, and a catalog-lost-but-files-present hit re-registers via
DDL instead of rewriting — Spark derives bucket ids from the written
file names (`..._0000N.` suffix), so the DDL path serves the same
layout without touching the data.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..schemas import load_table
from .ann_store import _corpus_fingerprint, _store_root

#: buckets per bucketed copy (part of its catalog name)
N_BUCKETS = 8


def _bucket_store_root() -> str:
    # sibling of the ANN store, same env-override discipline
    return os.environ.get(
        "SPARK_GRAFT_BUCKET_STORE",
        os.path.join(os.path.dirname(_store_root().rstrip("/")) or "/tmp",
                     "cassaforte_bucket_store"),
    )


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
) -> str:
    """Ensure a catalog table for ``table`` bucketed AND sorted by
    ``key`` into ``N_BUCKETS``; return its catalog name.

    Write-once: the bucketed copy is keyed on the corpus fingerprint, so
    a regenerated corpus triggers a rewrite and repeated runs in one
    session (or across sessions on one box) pay the layout cost exactly
    once — the train-once/serve-many split, applied to storage.
    """
    fp = _corpus_fingerprint(sf_dir, table)
    name = f"bkt_{table}_{key}_{N_BUCKETS}_{fp}"
    if spark.catalog.tableExists(name):
        return name
    path = os.path.join(_bucket_store_root(), name)
    df = load_table(spark, sf_dir, table)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        # files already written bucketed by a prior session — re-register
        # the layout; bucket ids are recovered from the file names.
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in df.schema.fields)
        spark.sql(
            f"CREATE TABLE `{name}` ({cols}) USING parquet "
            f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
            f"INTO {N_BUCKETS} BUCKETS LOCATION '{path}'"
        )
        return name
    (
        df.write.format("parquet")
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return name
