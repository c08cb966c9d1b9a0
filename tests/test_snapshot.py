"""Snapshot-manifest table (sources.snapshot) and its two streaming
consumers: the bucket-partitioned chunk ledger and the bucketed SCD2
maintenance. The load-bearing claims, each pinned here:

1. UNTOUCHED BUCKETS ARE BYTE-IDENTICAL across commits — carried by
   manifest reference, never rewritten (the O(touched) economics).
2. Commits are EXACTLY-ONCE under batch replay: a poisoned replay (same
   id, different content) is a no-op.
3. A crash between data write and manifest rename leaves the parent
   snapshot authoritative; the retried commit converges.
4. AS-OF reads time-travel: old manifests stay readable after new
   commits.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
    SnapshotTable,
    bucket_of,
)


def _file_hashes(paths: list[str]) -> dict[str, str]:
    return {
        p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in paths
    }


def _mk(spark, tmp_path, n_buckets=4) -> SnapshotTable:
    return SnapshotTable(
        str(tmp_path / "t"),
        "bucket int, k bigint, v bigint",
        n_buckets,
    )


def _df(spark, rows, n_buckets=4):
    return (
        spark.createDataFrame(rows, "k long, v long")
        .withColumn("bucket", bucket_of("k", n_buckets))
    )


def test_untouched_buckets_carry_by_reference_byte_identical(
    spark, tmp_path
):
    """A commit touching one bucket must leave every other bucket's
    files untouched ON DISK (same paths, same bytes) and carried
    forward in the new manifest by reference."""
    t = _mk(spark, tmp_path)
    base = _df(spark, [(k, k * 10) for k in range(40)])
    t.commit(base, 0)
    files0 = t.bucket_files(0)
    assert len(files0) == 4  # 40 keys over 4 hash buckets: all present
    # pick one real key and touch ONLY its bucket
    probe_k = 7
    b = (
        base.filter(F.col("k") == probe_k)
        .select("bucket")
        .first()["bucket"]
    )
    untouched_paths = [
        p for bb, ps in files0.items() if bb != b for p in ps
    ]
    before = _file_hashes(untouched_paths)
    t.commit(_df(spark, [(probe_k, 999)]), 1)
    files1 = t.bucket_files(1)
    # untouched buckets: same path lists, same bytes
    for bb in files0:
        if bb == b:
            assert files1[bb] != files0[bb]
        else:
            assert files1[bb] == files0[bb]
    assert _file_hashes(untouched_paths) == before
    # the touched bucket's new content replaced the old rows
    got = {
        r["k"]: r["v"]
        for r in t.read(spark).filter(F.col("bucket") == b).collect()
    }
    assert got == {probe_k: 999}


def test_commit_replay_is_noop(spark, tmp_path):
    """A replayed snapshot id must be ignored even with DIFFERENT data
    (poisoned replay), and an id at or below the latest snapshot must
    be ignored — the streaming exactly-once guard lives in the table."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(1, 10)]), 0)
    t.commit(_df(spark, [(2, 20)]), 1)
    man1 = t.manifest(1)
    t.commit(_df(spark, [(1, 666), (3, 30)]), 1)  # poisoned replay
    t.commit(_df(spark, [(4, 40)]), 0)  # stale id below latest
    assert t.latest() == 1
    assert t.manifest(1) == man1
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 10, 2: 20}


def test_crash_before_manifest_is_recoverable(spark, tmp_path):
    """Data files landing WITHOUT the manifest rename (crash window)
    must leave the parent authoritative; retrying the commit
    overwrites the orphan directory and converges."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(1, 10), (2, 20)]), 0)
    # simulate the crash: write the data directory exactly as commit
    # would, but die before the manifest rename
    crashed = _df(spark, [(1, 11)])
    (
        crashed.withColumn("_pb", F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("_pb")
        .parquet(os.path.join(t.root, "data/snap=1"))
    )
    assert t.latest() == 0  # parent still authoritative
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 10, 2: 20}
    # retried commit (different content — the batch recomputed) wins
    t.commit(_df(spark, [(1, 12)]), 1)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 12, 2: 20}


def test_as_of_read_time_travels(spark, tmp_path):
    """Old manifests stay readable after newer commits — and bucket
    pruning composes with as-of."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(1, 10), (2, 20)]), 0)
    b1 = _df(spark, [(1, 0)]).first()["bucket"]
    t.commit(_df(spark, [(1, 11)]), 1)
    assert {
        r["k"]: r["v"] for r in t.read(spark, as_of=0).collect()
    } == {1: 10, 2: 20}
    assert {
        r["k"]: r["v"] for r in t.read(spark).collect()
    } == {1: 11, 2: 20}
    pruned = t.read(spark, as_of=0, buckets=[b1])
    assert {r["k"] for r in pruned.collect()} >= {1}


def test_bucketed_chunk_ledger_replay_is_exactly_once(spark, tmp_path):
    """Mirror of the full-rewrite ledger's poisoned-replay unit on the
    bucketed maintenance: a re-delivered batch id with different
    documents must change nothing — and the final ledger must equal
    the full-rewrite fixture's answer for the same feed."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        CHUNK_LEDGER_N_BUCKETS,
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        chunk_ledger_bucketed_batch_fn,
    )

    t = SnapshotTable(
        str(tmp_path / "ledger"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    fn = chunk_ledger_bucketed_batch_fn(t)

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    fn(batch([(10, "alpha"), (11, "alpha")]), 0)
    fn(batch([(12, "alpha"), (13, "beta")]), 1)
    # poisoned replay: same id, smaller doc_id, new content
    fn(batch([(1, "alpha"), (2, "gamma")]), 1)
    got = {
        r["chunk_hash"]: (r["first_doc_id"], r["n_occurrences"])
        for r in t.read(spark).collect()
    }
    assert len(got) == 2, got  # alpha + beta chunks, no gamma
    assert (10, 3) in got.values()
    assert (13, 1) in got.values()


def test_bucketed_scd2_matches_full_rewrite(spark, tmp_path, sf_small):
    """The bucketed SCD2 maintenance must produce EXACTLY the
    full-rewrite fixture's history for the same staged feed (both gate
    the same oracle in the registry; this is the direct frame-level
    pin, cheap at sf0.001)."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        run_bounded_scd2,
        run_bounded_scd2_bucketed,
    )

    cols = [
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "valid_from_seq",
        "valid_to_seq",
        "is_current",
    ]
    full = {
        tuple(r) for r in run_bounded_scd2(spark, sf_small).select(*cols).collect()
    }
    bucketed = {
        tuple(r)
        for r in run_bounded_scd2_bucketed(spark, sf_small)
        .select(*cols)
        .collect()
    }
    assert full == bucketed and len(full) > 0


def test_compact_expire_vacuum_lifecycle(spark, tmp_path):
    """Maintenance triad: compaction folds to ONE file per non-empty
    bucket with content unchanged; expiry trims time travel but never
    the latest manifest; vacuum deletes exactly the unreferenced data
    files (crashed-commit debris included) and the table still reads
    identically afterwards."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(k, k) for k in range(20)]), 0)
    t.commit(_df(spark, [(1, 100)]), 1)
    t.commit(_df(spark, [(2, 200)]), 2)
    # crashed-commit debris: data without a manifest
    (
        _df(spark, [(3, 999)])
        .withColumn("_pb", F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("_pb")
        .parquet(os.path.join(t.root, "data/snap=9"))
    )
    before = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    t.compact(spark, 3)
    after = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert after == before
    files3 = t.bucket_files(3)
    assert all(len(ps) == 1 for ps in files3.values())  # one file/bucket
    expired = t.expire(keep_from=3)
    assert expired == [0, 1, 2]
    assert t.snapshots() == [3]
    deleted = t.vacuum()
    assert deleted  # old snapshots' files + the debris are gone
    # everything still referenced exists; table reads identically
    on_disk = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t.root, "data"))
        for f in fs
    }
    referenced = {p for ps in files3.values() for p in ps}
    assert on_disk == referenced
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == before
    # latest manifest survives an over-eager expire
    assert t.expire(keep_from=99) == []


def test_commit_append_lsm_semantics(spark, tmp_path):
    """Append commits: delta files ADD to bucket lists (no replace, no
    read of committed state), a poisoned replayed append is a no-op,
    and the read-side MIN/SUM fold over base+deltas equals the direct
    derivation. Merge-compaction then folds to one base with content
    unchanged and vacuum reclaims the delta files."""
    t = _mk(spark, tmp_path)
    t.commit_append(_df(spark, [(1, 10), (2, 20)]), 0)
    files0 = t.bucket_files(0)
    t.commit_append(_df(spark, [(1, 5), (3, 30)]), 1)
    files1 = t.bucket_files(1)
    # bucket of k=1: base file list is a strict prefix (append, not replace)
    b1 = _df(spark, [(1, 0)]).first()["bucket"]
    assert files1[b1][: len(files0[b1])] == files0[b1]
    assert len(files1[b1]) > len(files0[b1])
    # poisoned replay: same id, different rows — no-op
    t.commit_append(_df(spark, [(1, 999)]), 1)
    raw = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert raw == {(1, 10), (2, 20), (1, 5), (3, 30)}  # partials, unmerged
    # read-side fold (MIN per key here) equals direct derivation
    folded = {
        (r["k"], r["mv"])
        for r in t.read(spark).groupBy("bucket", "k").agg(
            F.min("v").alias("mv")
        ).collect()
    }
    assert folded == {(1, 5), (2, 20), (3, 30)}
    # merge-compaction: fold -> new base -> expire -> vacuum
    merged = (
        t.read(spark)
        .groupBy("bucket", "k")
        .agg(F.min("v").cast("long").alias("v"))
        .select("bucket", "k", "v")
    )
    t.commit(merged, 2)
    t.expire(keep_from=2)
    deleted = t.vacuum()
    assert deleted
    after = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert after == {(1, 5), (2, 20), (3, 30)}


def test_lsm_ledger_replay_and_oracle_equivalence(spark, tmp_path):
    """The LSM ledger batch fn mirrors the poisoned-replay unit of the
    other two maintenances: a replayed batch id must not append its
    delta twice, and the folded ledger equals the known answer."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        CHUNK_LEDGER_N_BUCKETS,
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        chunk_ledger_lsm_batch_fn,
        ledger_merge,
    )

    t = SnapshotTable(
        str(tmp_path / "ledger"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    fn = chunk_ledger_lsm_batch_fn(t)

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    fn(batch([(10, "alpha"), (11, "alpha")]), 0)
    fn(batch([(12, "alpha"), (13, "beta")]), 1)
    fn(batch([(1, "alpha"), (2, "gamma")]), 1)  # poisoned replay
    got = {
        r["chunk_hash"]: (r["first_doc_id"], r["n_occurrences"])
        for r in ledger_merge(t.read(spark)).collect()
    }
    assert len(got) == 2, got
    assert (10, 3) in got.values()
    assert (13, 1) in got.values()


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution: the evolving commit rewrites ONLY its
    touched buckets; untouched buckets' pre-evolution files read back
    with the new column as null; as-of reads below the evolution
    snapshot keep the OLD schema."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(k, k) for k in range(8)]), 0)
    b1 = _df(spark, [(1, 0)]).first()["bucket"]
    evolved = (
        _df(spark, [(1, 100)]).withColumn("w", F.lit(7).cast("long"))
    )
    t.commit(evolved, 1, schema="bucket int, k bigint, v bigint, w bigint")
    cur = t.read(spark)
    assert "w" in cur.columns
    got = {r["k"]: (r["v"], r["w"]) for r in cur.collect()}
    assert got[1] == (100, 7)
    assert all(w is None for k, (v, w) in got.items() if k != 1)
    # time travel below the evolution point: old schema
    assert "w" not in t.read(spark, as_of=0).columns
    # later commits carry the evolved schema forward
    t.commit(
        _df(spark, [(2, 200)]).withColumn("w", F.lit(9).cast("long")), 2
    )
    assert "w" in t.read(spark).columns
    # untouched bucket's files never rewritten across the evolution
    f0 = t.bucket_files(0)
    f2 = t.bucket_files(2)
    untouched = [
        b for b in f0
        if b != b1
        and b != _df(spark, [(2, 0)]).first()["bucket"]
    ]
    for b in untouched:
        assert f2[b] == f0[b]


def test_emptied_bucket_and_physical_erasure(spark, tmp_path):
    """Deleting EVERY row of a bucket must empty it (zero rows write no
    partition dir — only the explicit emptied_buckets list prevents a
    silent carry-forward), and after expire+vacuum NO surviving parquet
    file contains the deleted key — the compliance contract."""
    t = _mk(spark, tmp_path, n_buckets=4)
    rows = [(k, k * 10) for k in range(12)]
    t.commit(_df(spark, rows), 0)
    # doom every key in one bucket
    base = _df(spark, rows)
    bdoom = base.first()["bucket"]
    doomed = {r["k"] for r in base.collect() if r["bucket"] == bdoom}
    survivors = base.filter(F.col("bucket") == bdoom).filter(
        F.lit(False)
    )
    t.commit(survivors, 1, emptied_buckets=[bdoom])
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {k for k, _ in rows} - doomed
    t.expire(keep_from=1)
    t.vacuum()
    # physically: no surviving file holds a doomed key
    remaining = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t.root, "data"))
        for f in fs
    ]
    assert remaining  # other buckets still there
    back = {r["k"] for r in t.read(spark).collect()}
    assert back.isdisjoint(doomed)
    import pyarrow.parquet as pq

    for p in remaining:
        ks = set(pq.read_table(p, columns=["k"]).column("k").to_pylist())
        assert ks.isdisjoint(doomed), p


def test_snapshot_merge_fn_empties_a_touched_bucket(spark, tmp_path):
    """A ``snapshot_merge_fn`` merge that returns no rows for a bucket
    its delta touches must empty that bucket instead of carrying its
    committed rows forward, and every untouched bucket must keep its
    bucket-manifest name. The merge here upserts the delta's rows and
    deletes the keys whose ``v`` is negative."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        snapshot_merge_fn,
    )

    t = _mk(spark, tmp_path)
    fn = snapshot_merge_fn(
        t,
        lambda b: b,
        lambda prev, d: prev.join(d.select("k"), "k", "left_anti").unionByName(
            d.filter(F.col("v") >= 0)
        ),
    )
    rows = [(k, k * 10) for k in range(12)]
    base = _df(spark, rows)
    fn(base, 0)
    bdoom = base.first()["bucket"]
    doomed = {r["k"] for r in base.collect() if r["bucket"] == bdoom}
    fn(_df(spark, [(k, -1) for k in sorted(doomed)]), 1)

    assert t.batch_high_watermark() == 1
    assert {r["k"] for r in t.read(spark).collect()} == set(range(12)) - doomed
    assert t.manifest(1)["buckets"][str(bdoom)] == []
    before = t.root_manifest(0)["bucket_manifests"]
    after = t.root_manifest(1)["bucket_manifests"]
    assert set(after) == set(before)
    assert {b: after[b] for b in after if b != str(bdoom)} == {
        b: before[b] for b in before if b != str(bdoom)
    }


def test_manifest_file_stats_prune_and_carry(spark, tmp_path):
    """File stats: recorded at commit from the parquet footers;
    range-clustered buckets prune disjoint files (and ONLY disjoint
    files); stats carry forward for untouched files across commits and
    are dropped for dead files; hash-bucketed layouts honestly prune
    nothing."""
    t = SnapshotTable(
        str(tmp_path / "t"),
        "bucket int, k bigint, v bigint",
        4,
        stats_cols=("k",),
    )
    rows = [(k, k) for k in range(40)]
    ranged = (
        spark.createDataFrame(rows, "k long, v long")
        .withColumn("bucket", (F.col("k") / 10).cast("int"))
        .repartition("bucket")  # one file per bucket: tight stats
    )
    t.commit(ranged, 0)
    paths = [p for ps in t.bucket_files(0).values() for p in ps]
    keep = t.prune_paths(paths, 0, ("k", 25, 27))
    assert len(keep) == 1 and len(paths) == 4
    got = {
        r["k"]
        for r in t.read(spark, between=("k", 25, 27))
        .where(F.col("k").between(25, 27))
        .collect()
    }
    assert got == {25, 26, 27}
    # carry-forward: touch one bucket; others keep their stats rows
    t.commit(
        spark.createDataFrame([(5, 99)], "k long, v long").withColumn(
            "bucket", (F.col("k") / 10).cast("int")
        ),
        1,
    )
    man1 = t.manifest(1)
    live = {p for ps in man1["buckets"].values() for p in ps}
    assert set(man1["stats"]) == live  # stats exactly for live files
    keep1 = t.prune_paths(
        [p for ps in t.bucket_files(1).values() for p in ps],
        1,
        ("k", 25, 27),
    )
    assert len(keep1) == 1
    # hash bucketing: every file spans the key domain -> nothing prunes
    th = SnapshotTable(
        str(tmp_path / "h"),
        "bucket int, k bigint, v bigint",
        4,
        stats_cols=("k",),
    )
    th.commit(
        spark.createDataFrame(rows, "k long, v long")
        .withColumn("bucket", bucket_of("k", 4))
        .repartition("bucket"),
        0,
    )
    hp = [p for ps in th.bucket_files(0).values() for p in ps]
    assert len(th.prune_paths(hp, 0, ("k", 25, 27))) == len(hp)


def test_snapshot_table_model_based(spark, tmp_path):
    """Model-based check: a random interleaving of upserts, deletes,
    compactions, expiries, and vacuums against a plain-dict model —
    after EVERY commit the current read equals the model AND every
    retained historical snapshot still time-travels to its recorded
    model state (storage engines hide their bugs in operation ORDER,
    which example-based tests never explore). Deterministic seeds, no
    hypothesis runtime needed: each scenario is a seeded random walk."""
    import random

    for seed in (7, 23, 41):
        rng = random.Random(seed)
        root = str(tmp_path / f"m{seed}")
        t = SnapshotTable(root, "bucket int, k bigint, v bigint", 4)
        model: dict[int, int] = {}
        history: dict[int, dict[int, int]] = {}
        sid = 0

        def commit_state(
            changed: dict[int, int], deleted: set[int]
        ) -> None:
            nonlocal sid, model
            model = {
                **{k: v for k, v in model.items() if k not in deleted},
                **changed,
            }
            touched_keys = set(changed) | deleted
            tb = {
                r["bucket"]
                for r in _df(spark, [(k, 0) for k in touched_keys])
                .select("bucket")
                .distinct()
                .collect()
            }
            rows = [
                (k, v)
                for k, v in model.items()
                if _bucket_py(k) in tb
            ]
            df = _df(spark, rows) if rows else _df(spark, [(0, 0)]).filter(F.lit(False))
            kept = {_bucket_py(k) for k, _ in rows}
            t.commit(df, sid, emptied_buckets=sorted(tb - kept))
            history[sid] = dict(model)
            sid += 1

        def _bucket_py(k: int) -> int:
            # mirror bucket_of via one tiny Spark eval per scenario is
            # too slow; cache the mapping for the key domain instead
            return _bucket_cache[k]

        _bucket_cache = {
            r["k"]: r["bucket"]
            for r in _df(spark, [(k, 0) for k in range(24)]).collect()
        }

        # seed state
        commit_state({k: k * 10 for k in range(0, 24, 2)}, set())
        for _ in range(6):
            op = rng.choice(["upsert", "delete", "compact", "expire_vacuum"])
            if op == "upsert":
                ks = rng.sample(range(24), rng.randint(1, 5))
                commit_state({k: rng.randint(0, 999) for k in ks}, set())
            elif op == "delete":
                live = sorted(model)
                if live:
                    ks = set(rng.sample(live, min(len(live), rng.randint(1, 4))))
                    commit_state({}, ks)
            elif op == "compact":
                t.compact(spark, sid)
                history[sid] = dict(model)
                sid += 1
            else:
                keep = max(history)  # retain only the latest
                t.expire(keep_from=keep)
                t.vacuum()
                for old in [s for s in history if s < keep]:
                    del history[old]
            # invariant 1: current read == model
            got = {r["k"]: r["v"] for r in t.read(spark).collect()}
            assert got == model, (seed, op, got, model)
            # invariant 2: every retained snapshot time-travels
            for s, st in history.items():
                back = {
                    r["k"]: r["v"] for r in t.read(spark, as_of=s).collect()
                }
                assert back == st, (seed, op, s)
