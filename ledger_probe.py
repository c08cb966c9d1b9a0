#!/usr/bin/env python
"""Ledger-maintenance economics probe (VERDICT r12 next-round #1's
"Done" evidence, beyond the oracle gates): seed a LARGE committed chunk
ledger, then apply ONE SMALL micro-batch through each of the three
maintenance shapes and time just that apply:

- append-fold (chunk_ledger_batch_fn): appends the batch's folded
  MIN/SUM rows as one batch dir and reads NOTHING — O(batch) per batch;
  readers fold the dirs, and compaction bounds how many.
- bucketed overwrite (chunk_ledger_bucketed_batch_fn): reads + rewrites
  only TOUCHED buckets — honest caveat measured here: uniform chunk
  hashing spreads even a small batch across most buckets, so at small
  n_buckets this approaches a full rewrite; the win is the
  bucket-granular bound, not a guarantee.
- LSM append (chunk_ledger_lsm_batch_fn): appends O(batch) delta files,
  reads NOTHING — the shape whose per-batch cost is independent of
  ledger size; read amplification deferred to merge-compaction.

Output: one JSON blob (merged into SCALING_r{N}.json by the round
assembly) with seed sizes, per-shape small-batch apply seconds, and
bytes written per apply (the scale-honest metric: at 100 TB the apply
cost IS the bytes rewritten).

``--grains`` instead sweeps the five-table streaming sink
(streaming_ingest_batch_fn) over committed grain history: for 0, 1M and
5M committed minute rows (5M ≈ 3,500 meters for one day, with their
hour and day rows) it times 120-row micro-batches (4 meters × 30 s)
and prints the median per-batch seconds. An append-only sink's
per-batch cost does not depend on the history; a sink that merges into
committed state grows with it.

Usage: python ledger_probe.py [--seed-sf-dir /tmp/..../x10] [--batch-docs 200]
       python ledger_probe.py --grains
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


#: committed minute rows seeded before each point of the --grains sweep
GRAIN_SWEEP_ROWS = (0, 1_000_000, 5_000_000)
#: micro-batches per sweep point; the first one is an untimed warm-up
GRAIN_SWEEP_BATCHES = 5


def _seed_grains(spark, paths: dict[str, str], commits: str, rows: int) -> None:
    """Commit ``rows`` minute rows (one day per meter, consecutive
    meters) plus their hour and day rollups as batch 0 — each grain
    written as the compacted segment a long-running stream leaves."""
    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.functions.energy import TICK_JOULES
    from cassaforte_meter_transmission_gen_spark.operators.rollups import (
        rollup_from_second,
    )
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        DEFAULT_START_SAID,
        T0_EPOCH,
    )

    minute = spark.range(rows).select(
        (F.lit(DEFAULT_START_SAID) + F.expr("id DIV 1440")).cast("int").alias("said"),
        F.timestamp_seconds(F.lit(T0_EPOCH) + F.expr("id % 1440") * 60).alias(
            "datetime"
        ),
        F.lit(60 * TICK_JOULES).cast("long").alias("joules"),
    )
    for g in ("minute", "hour", "day"):
        df = minute if g == "minute" else rollup_from_second(minute, g)
        df.sortWithinPartitions("said", "datetime").write.parquet(
            os.path.join(paths[f"meter_samples_{g}"], "_compacted", "upto=0")
        )
    os.makedirs(commits)
    open(os.path.join(commits, "0"), "w").close()


def _sweep_point(spark, rows: int) -> list[float]:
    """Seconds of each timed micro-batch over ``rows`` seeded minute rows."""
    import shutil

    from cassaforte_meter_transmission_gen_spark.operators.ingest import TABLES
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
        T0_EPOCH,
        transmissions,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        streaming_ingest_batch_fn,
    )

    root = tempfile.mkdtemp(prefix="grain_probe_")
    try:
        paths = {t: os.path.join(root, t) for t in TABLES}
        commits = os.path.join(root, "_commits")
        if rows:
            _seed_grains(spark, paths, commits, rows)
        fn = streaming_ingest_batch_fn(paths, commits)
        secs = []
        for i in range(1, GRAIN_SWEEP_BATCHES + 1):
            batch = transmissions(
                spark, 4, t0_epoch=T0_EPOCH + 86400 + 30 * i, seconds=30
            ).localCheckpoint()
            t0 = time.perf_counter()
            fn(batch, i)
            secs.append(time.perf_counter() - t0)
        return secs[1:]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def grains_sweep(spark) -> dict:
    """Per-batch seconds of the five-table sink at each seeded size.
    One untimed pass over empty state warms the JVM, then the sizes run
    in ascending and then descending order, so the warm-up still under
    way biases no size."""
    import statistics

    _sweep_point(spark, 0)
    secs: dict[int, list[float]] = {rows: [] for rows in GRAIN_SWEEP_ROWS}
    for rows in GRAIN_SWEEP_ROWS + GRAIN_SWEEP_ROWS[::-1]:
        secs[rows] += _sweep_point(spark, rows)
    out: dict = {"batch_rows": 4 * 30, "points": []}
    for rows, s in secs.items():
        out["points"].append(
            {
                "committed_minute_rows": rows,
                "per_batch_s": round(statistics.median(s), 3),
                "batch_s": [round(x, 3) for x in s],
            }
        )
        print(
            f"committed minute rows {rows:>9,}: per-batch "
            f"{statistics.median(s):.2f} s (median of {len(s)})",
            file=sys.stderr,
        )
    return out


def _emit(out: dict, out_path: str | None) -> None:
    blob = json.dumps(out, indent=1, sort_keys=True)
    if out_path:
        with open(out_path, "w") as f:
            f.write(blob + "\n")
    print(blob)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--seed-sf-dir", default="/tmp/spark_graft_scale_corpus/x10"
    )
    ap.add_argument("--batch-docs", type=int, default=200)
    ap.add_argument("--out", default=None)
    ap.add_argument("--grains", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.schemas import load_table
    from cassaforte_meter_transmission_gen_spark.session import get_spark
    from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
        SnapshotTable,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        CHUNK_LEDGER_N_BUCKETS,
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        chunk_ledger_batch_fn,
        chunk_ledger_bucketed_batch_fn,
        chunk_ledger_lsm_batch_fn,
    )

    spark = get_spark("ledger-probe")
    if args.grains:
        _emit(grains_sweep(spark), args.out)
        return
    docs = load_table(spark, args.seed_sf_dir, "documents").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    seed = docs.localCheckpoint()
    # the small batch: fresh doc_ids so it genuinely adds new chunks
    small = (
        docs.orderBy("doc_id")
        .limit(args.batch_docs)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        .localCheckpoint()
    )

    out: dict = {
        "seed_docs": n_docs,
        "batch_docs": args.batch_docs,
        "n_buckets": CHUNK_LEDGER_N_BUCKETS,
        "shapes": {},
    }

    root = tempfile.mkdtemp(prefix="ledger_probe_")

    # --- append-fold ---
    table_dir = os.path.join(root, "append")
    commits = os.path.join(root, "append_commits")
    fn = chunk_ledger_batch_fn(table_dir, commits)
    fn(seed, 0)
    b0 = _tree_bytes(table_dir)
    t0 = time.perf_counter()
    fn(small, 1)
    dt = time.perf_counter() - t0
    out["shapes"]["append_fold"] = {
        "apply_sec": round(dt, 3),
        "bytes_written": _tree_bytes(table_dir) - b0,
    }

    # --- bucketed overwrite ---
    tb = SnapshotTable(
        os.path.join(root, "bucketed"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    fnb = chunk_ledger_bucketed_batch_fn(tb)
    fnb(seed, 0)
    b0 = _tree_bytes(tb.root)
    t0 = time.perf_counter()
    fnb(small, 1)
    dt = time.perf_counter() - t0
    touched = len(
        {
            b
            for b, fs in tb.manifest(1)["buckets"].items()
            if any("snap=1" in f for f in fs)
        }
    )
    out["shapes"]["bucketed_overwrite"] = {
        "apply_sec": round(dt, 3),
        "bytes_written": _tree_bytes(tb.root) - b0,
        "buckets_touched": touched,
    }

    # --- LSM append ---
    tl = SnapshotTable(
        os.path.join(root, "lsm"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    fnl = chunk_ledger_lsm_batch_fn(tl)
    fnl(seed, 0)
    b0 = _tree_bytes(tl.root)
    t0 = time.perf_counter()
    fnl(small, 1)
    dt = time.perf_counter() - t0
    out["shapes"]["lsm_append"] = {
        "apply_sec": round(dt, 3),
        "bytes_written": _tree_bytes(tl.root) - b0,
    }

    # --- SCD2: the KEY-CONCENTRATED case where bucketed overwrite wins ---
    # a dimension-update micro-batch touches FEW keys; with enough
    # buckets those keys land in few buckets and the partial rewrite is
    # a small fraction of the history — unlike the uniform-hash ledger.
    from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
        bucket_of,
    )
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        scd2_bucketed_batch_fn,
        scd2_batch_fn,
    )

    orders = (
        load_table(spark, args.seed_sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .localCheckpoint()
    )
    n_orders = orders.count()
    seed_feed = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("seq"),
        F.lit("u").alias("op"),
    ).localCheckpoint()
    upd_feed = (
        orders.orderBy("o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 50).alias("o_totalprice"),
            F.lit(1).alias("seq"),
            F.lit("u").alias("op"),
        )
        .localCheckpoint()
    )
    scd2_schema = (
        "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
        " valid_from_seq int, valid_to_seq int, is_current boolean"
    )
    payload = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    scd2_out: dict = {
        "history_keys": n_orders,
        "batch_keys": 20,
        "shapes": {},
    }
    # full rewrite
    fdir = os.path.join(root, "scd2_full")
    fcom = os.path.join(root, "scd2_full_commits")
    ffn = scd2_batch_fn(fdir, fcom, scd2_schema, "o_orderkey", payload)
    ffn(seed_feed, 0)
    b0 = _tree_bytes(fdir)
    t0 = time.perf_counter()
    ffn(upd_feed, 1)
    scd2_out["shapes"]["full_rewrite"] = {
        "apply_sec": round(time.perf_counter() - t0, 3),
        "bytes_written": _tree_bytes(fdir) - b0,
    }
    # bucketed, production bucket count
    n_scd2_buckets = 256
    ts = SnapshotTable(
        os.path.join(root, "scd2_bucketed"),
        "bucket int, " + scd2_schema,
        n_scd2_buckets,
    )
    bfn = scd2_bucketed_batch_fn(ts, "o_orderkey", payload)
    bfn(seed_feed, 0)
    b0 = _tree_bytes(ts.root)
    t0 = time.perf_counter()
    bfn(upd_feed, 1)
    touched = len(
        {
            b
            for b, fs in ts.manifest(1)["buckets"].items()
            if any("snap=1" in f for f in fs)
        }
    )
    scd2_out["shapes"]["bucketed_overwrite"] = {
        "apply_sec": round(time.perf_counter() - t0, 3),
        "bytes_written": _tree_bytes(ts.root) - b0,
        "buckets_touched": touched,
        "n_buckets": n_scd2_buckets,
    }
    out["scd2"] = scd2_out

    # --- round-14 lakehouse maintenance probes ---
    # (1) scattered delete: merge-on-read tombstones vs copy-on-write.
    # 100 keys scattered uniformly across a 256-bucket table touch
    # ~100 buckets — CoW rewrites every one; MOR writes O(deleted).
    n_del_buckets = 256
    td_root = os.path.join(root, "mor_vs_cow")
    lake: dict = {}
    base = (
        orders.withColumn(
            "bucket", bucket_of("o_orderkey", n_del_buckets)
        ).localCheckpoint()
    )
    doomed = (
        base.orderBy("o_orderkey")
        .limit(100)
        .select("bucket", "o_orderkey")
        .localCheckpoint()
    )
    del_schema = (
        "bucket int, o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double"
    )
    # copy-on-write
    tcow = SnapshotTable(os.path.join(td_root, "cow"), del_schema, n_del_buckets)
    tcow.commit(base.repartition("bucket"), 0)
    b0 = _tree_bytes(tcow.root)
    t0 = time.perf_counter()
    touched = [r[0] for r in doomed.select("bucket").distinct().collect()]
    prev = tcow.read(spark, buckets=touched)
    survivors = prev.join(
        F.broadcast(doomed.select("o_orderkey")), "o_orderkey", "left_anti"
    ).localCheckpoint()
    kept = {r[0] for r in survivors.select("bucket").distinct().collect()}
    tcow.commit(
        survivors.repartition("bucket"),
        1,
        emptied_buckets=sorted(set(touched) - kept),
    )
    cow = {
        "apply_sec": round(time.perf_counter() - t0, 3),
        "bytes_written": _tree_bytes(tcow.root) - b0,
        "buckets_rewritten": len(touched),
    }
    # merge-on-read
    tmor = SnapshotTable(os.path.join(td_root, "mor"), del_schema, n_del_buckets)
    tmor.commit(base.repartition("bucket"), 0)
    b0 = _tree_bytes(tmor.root)
    t0 = time.perf_counter()
    tmor.commit_delete(
        doomed.repartition("bucket"), 1, key_cols=("o_orderkey",)
    )
    mor = {
        "apply_sec": round(time.perf_counter() - t0, 3),
        "bytes_written": _tree_bytes(tmor.root) - b0,
        "buckets_rewritten": 0,
    }
    lake["scattered_delete_100keys"] = {
        "table_rows": n_orders,
        "n_buckets": n_del_buckets,
        "cow": cow,
        "mor": mor,
        "mor_bytes_advantage": round(
            cow["bytes_written"] / max(1, mor["bytes_written"]), 1
        ),
    }

    # (2) size-tiered compaction: a hot bucket accumulates append
    # deltas; the tiered compaction rewrites ONLY that bucket — bytes
    # written must be a small fraction of the table.
    thot = SnapshotTable(
        os.path.join(td_root, "tiered"), del_schema, n_del_buckets
    )
    thot.commit(base.repartition("bucket"), 0)
    hot_bucket = doomed.first()["bucket"]
    hot_rows = base.filter(F.col("bucket") == hot_bucket).limit(20)
    for i in range(6):
        thot.commit_append(
            hot_rows.withColumn(
                "o_orderkey", F.col("o_orderkey") + (i + 1) * 10_000_000
            ).repartition("bucket"),
            i + 1,
        )
    table_bytes = _tree_bytes(thot.root)
    b0 = table_bytes
    t0 = time.perf_counter()
    compacted = thot.compact_buckets(spark, 7, max_files=4)
    lake["size_tiered_compaction"] = {
        "table_bytes": table_bytes,
        "compaction_bytes": _tree_bytes(thot.root) - b0,
        "buckets_compacted": len(compacted),
        "n_buckets": n_del_buckets,
        "apply_sec": round(time.perf_counter() - t0, 3),
    }

    # (3) two-level manifest: root-manifest bytes per commit must stay
    # flat while append deltas accumulate (one-level design grew
    # linearly with the live file list).
    roots = [
        os.path.getsize(tl._manifest_path(s)) for s in tl.snapshots()
    ]
    lake["root_manifest_bytes_per_commit"] = {
        "series": roots,
        "live_files": sum(
            len(ps) for ps in tl.bucket_files(None).values()
        ),
    }
    out["lakehouse_maintenance"] = lake

    import shutil

    shutil.rmtree(root, ignore_errors=True)
    _emit(out, args.out)


if __name__ == "__main__":
    main()
