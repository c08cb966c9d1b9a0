"""Round-14 snapshot-table capabilities — the claims pinned here:

1. TWO-LEVEL MANIFEST: a commit writes bucket manifests ONLY for the
   buckets it touches; untouched buckets keep the same immutable
   bucket-manifest NAME (per-commit metadata O(touched), the
   manifest-list economics), and root-manifest size stays flat while
   LSM deltas accumulate.
2. CAS COMMITS: a writer whose parent moved raises
   SnapshotConflictError instead of silently dropping the winner's
   buckets; a same-snapshot-id publish race has exactly one winner.
3. BATCH HIGH-WATERMARK: maintenance commits take snapshot ids without
   desynchronizing the streaming replay guard — the exact silent-loss
   interleaving (append, compact, replay, next live batch) is replayed
   here.
4. SIZE-TIERED COMPACTION: only buckets over the file-count tier are
   rewritten; under-tier buckets' files stay byte-identical on disk.
5. MERGE-ON-READ DELETES: tombstones cost O(deleted) bytes, reads
   anti-join them, time travel still sees the rows, and the next
   compaction of the bucket physically erases them (parquet-grep).
6. TABLE PROPERTIES: reopening a root with a different n_buckets fails
   loudly; SnapshotTable.open reconstructs from disk alone.
7. REBUCKET: the offline migration to a new bucket count preserves
   content exactly (checksum equality) under the new bucketing.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from cassaforte_meter_transmission_gen_spark.sources.snapshot import (
    SnapshotConflictError,
    SnapshotTable,
    bucket_of,
)


def _mk(spark, tmp_path, n_buckets=4, name="t") -> SnapshotTable:
    return SnapshotTable(
        str(tmp_path / name),
        "bucket int, k bigint, v bigint",
        n_buckets,
    )


def _df(spark, rows, n_buckets=4):
    return (
        spark.createDataFrame(rows, "k long, v long")
        .withColumn("bucket", bucket_of("k", n_buckets))
    )


def _file_hashes(paths: list[str]) -> dict[str, str]:
    return {
        p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in paths
    }


# --- 1. two-level manifest ---


def test_commit_metadata_is_o_touched_buckets(spark, tmp_path):
    """A commit touching one bucket must write a NEW bucket manifest
    for that bucket only; every other bucket's root entry keeps the
    SAME immutable manifest name — the O(touched) metadata claim, on
    the filesystem."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(k, k) for k in range(40)]), 0)
    names0 = t.root_manifest(0)["bucket_manifests"]
    b = _df(spark, [(7, 0)]).first()["bucket"]
    t.commit(_df(spark, [(7, 999)]), 1)
    names1 = t.root_manifest(1)["bucket_manifests"]
    assert names1[str(b)] != names0[str(b)]
    for bb in names0:
        if bb != str(b):
            assert names1[bb] == names0[bb]  # carried BY NAME


def test_root_manifest_stays_flat_under_lsm_appends(spark, tmp_path):
    """The one-level design grew the root by the full file list every
    append; two-level roots hold bucket-manifest NAMES only, so root
    bytes must stay ~flat while delta files accumulate."""
    t = _mk(spark, tmp_path)
    sizes = []
    for sid in range(8):
        t.commit_append(_df(spark, [(k, sid) for k in range(8)]), sid)
        sizes.append(os.path.getsize(t._manifest_path(sid)))
    # files grew 8x; root growth must be bounded (name-length drift
    # only. A one-level manifest would grow ~linearly with file count.)
    assert sizes[-1] < sizes[0] * 1.5, sizes
    # while the actual file lists DID grow linearly
    total_files = sum(len(ps) for ps in t.bucket_files(7).values())
    assert total_files >= 8


# --- 2. CAS commits ---


def test_concurrent_writer_parent_check_raises(spark, tmp_path):
    """The read-merge-write race: writer B merged against snapshot 0,
    but writer A published snapshot 1 first. B's commit must raise —
    silently publishing would drop A's buckets."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(1, 10), (2, 20)]), 0)
    base = t.latest()  # B captures its merge basis
    t.commit(_df(spark, [(1, 11)]), 1)  # A wins the race
    with pytest.raises(SnapshotConflictError):
        t.commit(_df(spark, [(2, 22)]), 2, expected_parent=base)
    # A's write is intact, B's never landed
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 11, 2: 20}
    # retry after re-merge (new expected_parent) succeeds
    t.commit(_df(spark, [(2, 22)]), 2, expected_parent=t.latest())
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {
        1: 11,
        2: 22,
    }


def test_same_sid_publish_race_single_winner(spark, tmp_path):
    """The exclusive root-manifest create: two publishes of the same
    snapshot id have exactly one winner; the loser raises instead of
    clobbering (os.replace semantics would let the LAST writer win)."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(1, 10)]), 0)
    bms = t.root_manifest(0)["bucket_manifests"]
    t._publish(1, 0, bms)
    man = t.root_manifest(1)
    with pytest.raises(SnapshotConflictError):
        t._publish(1, 0, {})
    assert t.root_manifest(1) == man  # winner untouched


# --- 3. batch high-watermark ---


def test_batch_hw_survives_maintenance_interleaving(spark, tmp_path):
    """The round-13 advisory scenario, replayed: live appends at batch
    0..1, a mid-stream compaction claims the next snapshot id, then
    batch 1 is REDELIVERED (crash before checkpoint) and batch 2
    arrives. Guarding on latest() would both re-apply 1 and/or drop 2;
    guarding on batch_hw must apply each live batch exactly once."""
    t = _mk(spark, tmp_path)

    def deliver(rows, batch_id):
        hw = t.batch_high_watermark()
        if hw is not None and batch_id <= hw:
            return False
        sid = 0 if t.latest() is None else t.latest() + 1
        t.commit_append(_df(spark, rows), sid, batch_hw=batch_id)
        return True

    assert deliver([(1, 1)], 0)
    assert deliver([(1, 1)], 1)
    # maintenance commit at snapshot latest()+1, batch_hw carried
    t.compact_buckets(
        spark,
        t.latest() + 1,
        max_files=1,
        fold=lambda df: df.groupBy("bucket", "k").agg(
            F.sum("v").cast("long").alias("v")
        ),
    )
    assert t.batch_high_watermark() == 1  # carried, not clobbered
    assert not deliver([(1, 1)], 1)  # replay: skipped
    assert deliver([(1, 1)], 2)  # next live batch: applied
    folded = {
        (r["k"], r["v"])
        for r in t.read(spark)
        .groupBy("k")
        .agg(F.sum("v").cast("long").alias("v"))
        .collect()
    }
    assert folded == {(1, 3)}  # batches 0,1,2 exactly once each


# --- 4. size-tiered compaction ---


def test_compact_buckets_size_tier_and_byte_identity(spark, tmp_path):
    """Only buckets whose file count crossed the tier are rewritten;
    every under-tier bucket's files stay byte-identical on disk and
    carried by manifest NAME. Content is unchanged either way."""
    t = _mk(spark, tmp_path)
    base = _df(spark, [(k, k) for k in range(40)]).repartition("bucket")
    t.commit(base, 0)  # 1 file per bucket
    hot = _df(spark, [(7, 0)]).first()["bucket"]
    # pile deltas onto the hot bucket only
    for sid in (1, 2, 3):
        t.commit_append(
            _df(spark, [(7, sid)]).repartition("bucket"), sid
        )
    before = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    cold_paths = [
        p
        for b, ps in t.bucket_files(3).items()
        if b != hot
        for p in ps
    ]
    cold_hashes = _file_hashes(cold_paths)
    names3 = t.root_manifest(3)["bucket_manifests"]
    compacted = t.compact_buckets(spark, 4, max_files=2)
    assert compacted == [hot]
    names4 = t.root_manifest(4)["bucket_manifests"]
    assert names4[str(hot)] != names3[str(hot)]
    for b in names3:
        if b != str(hot):
            assert names4[b] == names3[b]
    assert _file_hashes(cold_paths) == cold_hashes
    assert len(t.bucket_files(4)[hot]) == 1  # folded to one file
    after = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert after == before
    # nothing over the tier now: a further tiered pass is a no-op
    assert t.compact_buckets(spark, 5, max_files=2) == []
    assert t.latest() == 4  # no forced snapshot


# --- 5. merge-on-read deletes ---


def test_mor_delete_read_timetravel_and_erasure(spark, tmp_path):
    """Tombstones: O(deleted) bytes written (no base file rewritten —
    byte-identity check), reads anti-join them, as-of below the delete
    still sees the rows, compaction folds them into a physical rewrite
    and after vacuum no surviving parquet file holds a deleted key."""
    t = _mk(spark, tmp_path)
    rows = [(k, k * 10) for k in range(24)]
    t.commit(_df(spark, rows), 0)
    paths0 = [p for ps in t.bucket_files(0).values() for p in ps]
    hashes0 = _file_hashes(paths0)
    doomed = [1, 7, 13]
    t.commit_delete(
        _df(spark, [(k, 0) for k in doomed]).select("bucket", "k"),
        1,
        key_cols=("k",),
    )
    # no base file was opened or rewritten
    assert _file_hashes(paths0) == hashes0
    assert [p for ps in t.bucket_files(1).values() for p in ps] == paths0
    # logical read: deleted rows gone
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {k for k, _ in rows} - set(doomed)
    # raw read exposes them; time travel below the delete sees them
    assert {
        r["k"] for r in t.read(spark, apply_deletes=False).collect()
    } == {k for k, _ in rows}
    assert {r["k"] for r in t.read(spark, as_of=0).collect()} == {
        k for k, _ in rows
    }
    # mismatched delete key on a later delete fails loudly
    with pytest.raises(ValueError):
        t.commit_delete(
            _df(spark, [(2, 0)])
            .withColumnRenamed("k", "kk")
            .select("bucket", "kk"),
            2,
            key_cols=("kk",),
        )
    # compaction folds the tombstones away physically
    t.compact(spark, 2)
    assert not any(t.bucket_deletes(2).values())
    t.expire(keep_from=2)
    t.vacuum()
    import pyarrow.parquet as pq

    remaining = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t.root, "data"))
        for f in fs
    ]
    assert remaining
    for p in remaining:
        ks = set(pq.read_table(p, columns=["k"]).column("k").to_pylist())
        assert ks.isdisjoint(doomed), p
    assert {r["k"] for r in t.read(spark).collect()} == got


def test_mor_delete_changed_buckets_feed(spark, tmp_path):
    """A tombstone commit IS a change: the manifest-level change feed
    must report the buckets whose delete lists grew (an incremental
    consumer has to re-derive those buckets)."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(k, k) for k in range(12)]), 0)
    b7 = _df(spark, [(7, 0)]).first()["bucket"]
    t.commit_delete(
        _df(spark, [(7, 0)]).select("bucket", "k"), 1, key_cols=("k",)
    )
    assert t.changed_buckets(0, 1) == [b7]


# --- 6. table properties ---


def test_properties_persist_and_reject_mismatch(spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(root, "bucket int, k bigint, v bigint", 4)
    t.commit(_df(spark, [(1, 10)]), 0)
    # reopen with matching identity: fine
    SnapshotTable(root, "bucket int, k bigint, v bigint", 4)
    # reopen from disk alone
    t2 = SnapshotTable.open(root)
    assert t2.n_buckets == 4
    assert {r["k"]: r["v"] for r in t2.read(spark).collect()} == {1: 10}
    # mismatched bucket count: the silent-corruption case — loud error
    with pytest.raises(ValueError, match="rebucket"):
        SnapshotTable(root, "bucket int, k bigint, v bigint", 8)
    props = json.load(open(os.path.join(root, "properties.json")))
    assert props["n_buckets"] == 4


def test_file_stats_skip_missing_column(spark, tmp_path):
    """A stats column absent from a committed frame must not fail the
    commit (the round-13 advisory): the file simply records no stats
    for it and never prunes."""
    t = SnapshotTable(
        str(tmp_path / "t"),
        "bucket int, k bigint, v bigint",
        4,
        stats_cols=("k", "nope"),
    )
    t.commit(_df(spark, [(1, 10), (2, 20)]), 0)  # no "nope" column
    paths = [p for ps in t.bucket_files(0).values() for p in ps]
    assert t.prune_paths(paths, 0, ("nope", 0, 1)) == paths  # no prune
    assert len(t.prune_paths(paths, 0, ("k", 999, 1000))) < len(paths)


# --- 7. rebucket migration ---


def test_rebucket_preserves_content_exactly(spark, tmp_path):
    """The offline migration: 4 buckets → 16, content checksum equal,
    every row in the bucket its key hashes to under the NEW count, and
    pending tombstones folded away in flight."""
    t = _mk(spark, tmp_path)
    t.commit(_df(spark, [(k, k * 3) for k in range(50)]), 0)
    t.commit_delete(
        _df(spark, [(9, 0)]).select("bucket", "k"), 1, key_cols=("k",)
    )
    nt = t.rebucket(spark, str(tmp_path / "t16"), "k", 16)
    assert nt.n_buckets == 16
    old = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    new = {(r["k"], r["v"]) for r in nt.read(spark).collect()}
    assert new == old and (9, 27) not in new
    # re-keyed correctly: bucket column matches the new hash everywhere
    bad = (
        nt.read(spark)
        .where(F.col("bucket") != bucket_of("k", 16))
        .count()
    )
    assert bad == 0
    # no tombstones migrated — they folded into the rewrite
    assert not any(nt.bucket_deletes(None).values())


# --- empty-stream drain guard ---


def test_finalize_lsm_ledger_empty_stream(spark, tmp_path):
    """Zero micro-batches delivered (empty corpus): the drain
    finalization must return an empty ledger, not raise on
    latest()+1 arithmetic (round-13 advisory)."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        CHUNK_LEDGER_N_BUCKETS,
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        finalize_chunk_ledger_lsm,
    )

    t = SnapshotTable(
        str(tmp_path / "ledger"),
        _CHUNK_LEDGER_BUCKETED_SCHEMA,
        CHUNK_LEDGER_N_BUCKETS,
    )
    out = finalize_chunk_ledger_lsm(spark, t)
    assert out.count() == 0
    assert out.columns == ["chunk_hash", "first_doc_id", "n_occurrences"]


def test_lsm_ledger_midstream_compaction_bounds_files(spark, tmp_path):
    """Drive the LSM batch fn many batches: the mid-stream size tier
    must hold every bucket's file count at ≤ tier+new-delta files
    while batches keep landing — and the folded ledger still equals
    the direct derivation."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        CHUNK_LEDGER_COMPACT_MAX_FILES,
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
    texts = ["alpha beta", "beta gamma", "alpha", "delta", "gamma"]
    for i in range(10):
        fn(
            spark.createDataFrame(
                [(100 + i, texts[i % len(texts)])],
                "doc_id long, text string",
            ),
            i,
        )
    counts = [len(ps) for ps in t.bucket_files(None).values()]
    assert max(counts) <= CHUNK_LEDGER_COMPACT_MAX_FILES + 1, counts
    # equivalence with the one-shot derivation over the same docs
    from cassaforte_meter_transmission_gen_spark.plans.text_queries import (
        content_defined_chunks,
    )

    all_docs = spark.createDataFrame(
        [(100 + i, texts[i % len(texts)]) for i in range(10)],
        "doc_id long, text string",
    )
    want = {
        (r["chunk_hash"], r["first_doc_id"], r["n_occurrences"])
        for r in content_defined_chunks(all_docs)
        .groupBy("chunk_hash")
        .agg(
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .collect()
    }
    got = {
        (r["chunk_hash"], r["first_doc_id"], r["n_occurrences"])
        for r in ledger_merge(t.read(spark)).drop("bucket").collect()
    }
    assert got == want


def test_snapshot_view_feed_replay_is_exactly_once(spark, tmp_path):
    """The change-feed consumer's replay guard keys on the APPLIED
    SOURCE SNAPSHOT id: a redelivered (even poisoned) trigger for an
    already-applied snapshot must change nothing, and out-of-order /
    batched delivery folds to the same view because the refresh diffs
    applied→max(delivered) directly."""
    import os

    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _SNAPSHOT_VIEW,
        read_fold_table,
        snapshot_view_batch_fn,
    )

    t = SnapshotTable(
        str(tmp_path / "src"),
        "bucket int, o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double",
        4,
    )

    def odf(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
        ).withColumn("bucket", bucket_of("o_orderkey", 4))

    t.commit(odf([(1, "O", 10.0), (2, "F", 20.0), (3, "O", 30.0)]), 0)
    t.commit_delete(
        odf([(3, "O", 0.0)]).select("bucket", "o_orderkey"),
        1,
        key_cols=("o_orderkey",),
    )
    t.commit_append(odf([(9, "F", 5.0)]), 2)

    view_dir = str(tmp_path / "view")
    commits = str(tmp_path / "commits")
    fn = snapshot_view_batch_fn(t, view_dir, commits)  # seeds at snapshot 0

    def feed(sids, batch_id):
        fn(
            spark.createDataFrame([(str(s),) for s in sids], "value string"),
            batch_id,
        )

    feed([1, 2], 0)  # batched delivery: one refresh 0 -> 2
    want = {
        (r["o_orderstatus"], r["n_orders"], str(r["sum_dec"]))
        for r in read_fold_table(spark, view_dir, commits, _SNAPSHOT_VIEW).collect()
    }
    assert want == {("O", 1, "10.0000"), ("F", 2, "25.0000")}
    feed([1], 1)  # poisoned replay of an applied snapshot: no-op
    feed([2], 2)
    assert sorted(os.listdir(commits)) == ["0", "2"]  # no new version
    got = {
        (r["o_orderstatus"], r["n_orders"], str(r["sum_dec"]))
        for r in read_fold_table(spark, view_dir, commits, _SNAPSHOT_VIEW).collect()
    }
    assert got == want


def test_snapshot_table_model_based_v2(spark, tmp_path):
    """Model-based check over the ROUND-14 operation set: random
    interleavings of partial-rewrite upserts, MERGE-ON-READ deletes,
    SIZE-TIERED compactions, full compactions, expiry+vacuum, and
    REBUCKET migrations against a plain-dict model. After every step
    the current read equals the model and every retained snapshot
    still time-travels to its recorded state — the operation-ORDER
    bugs (tombstone surviving a compaction, a tier rewrite clobbering
    an untouched bucket, a migration dropping a pending delete) live
    exactly here."""
    import random

    for seed in (11, 29):
        rng = random.Random(seed)
        root = str(tmp_path / f"m{seed}")
        t = SnapshotTable(root, "bucket int, k bigint, v bigint", 4)
        model: dict[int, int] = {}
        history: dict[int, dict[int, int]] = {}

        _bucket_cache = {
            r["k"]: r["bucket"]
            for r in _df(spark, [(k, 0) for k in range(24)]).collect()
        }

        def next_sid() -> int:
            return 0 if t.latest() is None else t.latest() + 1

        def upsert(changed: dict[int, int]) -> None:
            nonlocal model
            model = {**model, **changed}
            tb = {_bucket_cache[k] for k in changed}
            rows = [
                (k, v) for k, v in model.items() if _bucket_cache[k] in tb
            ]
            sid = next_sid()
            t.commit(_df(spark, rows), sid)
            history[sid] = dict(model)

        def mor_delete(ks: set[int]) -> None:
            nonlocal model
            model = {k: v for k, v in model.items() if k not in ks}
            sid = next_sid()
            t.commit_delete(
                _df(spark, [(k, 0) for k in ks]).select("bucket", "k"),
                sid,
                key_cols=("k",),
            )
            history[sid] = dict(model)

        upsert({k: k * 10 for k in range(0, 24, 2)})
        n_migrations = 0
        for _ in range(7):
            op = rng.choice(
                [
                    "upsert",
                    "mor_delete",
                    "compact_tiered",
                    "compact_full",
                    "expire_vacuum",
                    "rebucket",
                ]
            )
            if op == "upsert":
                ks = rng.sample(range(24), rng.randint(1, 5))
                upsert({k: rng.randint(0, 999) for k in ks})
            elif op == "mor_delete":
                live = sorted(model)
                if live:
                    mor_delete(
                        set(
                            rng.sample(
                                live, min(len(live), rng.randint(1, 3))
                            )
                        )
                    )
            elif op == "compact_tiered":
                sid = next_sid()
                t.compact_buckets(spark, sid, max_files=2)
                if t.latest() == sid:  # something crossed the tier
                    history[sid] = dict(model)
            elif op == "compact_full":
                sid = next_sid()
                t.compact(spark, sid)
                history[sid] = dict(model)
            elif op == "expire_vacuum":
                keep = max(history)
                t.expire(keep_from=keep)
                t.vacuum()
                for old in [s for s in history if s < keep]:
                    del history[old]
            else:  # rebucket migration to a fresh root, then adopt it
                n_migrations += 1
                t = t.rebucket(
                    spark,
                    str(tmp_path / f"m{seed}_rb{n_migrations}"),
                    "k",
                    4,
                    sid=0,
                )
                history.clear()
                history[0] = dict(model)
            # invariant 1: current read == model
            got = {r["k"]: r["v"] for r in t.read(spark).collect()}
            assert got == model, (seed, op, got, model)
            # invariant 2: every retained snapshot time-travels
            for s, st in history.items():
                back = {
                    r["k"]: r["v"]
                    for r in t.read(spark, as_of=s).collect()
                }
                assert back == st, (seed, op, s)
