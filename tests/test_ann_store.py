"""Persisted ANN training artifacts (sources.ann_store): exact
round-trip, cache-or-train semantics, staleness invalidation, and
serve-path ≡ self-training equivalence."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cassaforte_meter_transmission_gen_spark.operators.similarity import (
    ivf_topk,
    kmeans_centroids,
    pq_codebooks,
    pq_topk,
)
from cassaforte_meter_transmission_gen_spark.schemas import load_table
from cassaforte_meter_transmission_gen_spark.sources import ann_store
from cassaforte_meter_transmission_gen_spark.sources.ann_store import (
    read_kmeans_centroids,
    read_pq_codebooks,
    trained_ivf_centroids,
    trained_pq_codebooks,
    write_kmeans_centroids,
    write_pq_codebooks,
)


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    root = str(tmp_path / "ann_store")
    monkeypatch.setenv(ann_store.ANN_STORE_ENV, root)
    return root


def test_centroid_roundtrip_exact(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_centroids(emb, n_clusters=4, train_sample_denom=None)
    path = str(tmp_path / "cents")
    write_kmeans_centroids(spark, cents, path)
    back = read_kmeans_centroids(path)
    # bit-exact: parquet DOUBLE round-trips IEEE-754 exactly
    assert back == cents
    assert [repr(x) for row in back for x in row] == [
        repr(x) for row in cents for x in row
    ]


def test_codebook_roundtrip_exact(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    books = pq_codebooks(
        emb, n_subspaces=4, n_codes=4, train_sample_denom=None
    )
    path = str(tmp_path / "books")
    write_pq_codebooks(spark, books, path)
    assert read_pq_codebooks(path) == books


def test_trained_centroids_cache_hits(spark, sf_small, store_root, monkeypatch):
    first = trained_ivf_centroids(spark, sf_small, n_clusters=4)
    # second call must READ, never retrain: poison the trainer
    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("retrained on cache hit")

    monkeypatch.setattr(
        "cassaforte_meter_transmission_gen_spark.operators.similarity."
        "kmeans_centroids",
        boom,
    )
    assert trained_ivf_centroids(spark, sf_small, n_clusters=4) == first


def test_trained_codebooks_cache_keyed_by_config(spark, sf_small, store_root):
    b16 = trained_pq_codebooks(spark, sf_small, n_subspaces=16)
    b8 = trained_pq_codebooks(spark, sf_small, n_subspaces=8)
    assert len(b16) == 16 and len(b8) == 8  # no key collision
    # both committed as separate artifacts
    assert len(os.listdir(store_root)) == 2


def test_cache_invalidates_on_corpus_change(spark, sf_small, tmp_path, monkeypatch):
    # copy the corpus so we can touch it without writing to testdata
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(
        os.path.join(sf_small, "embeddings.parquet"),
        corpus / "embeddings.parquet",
    )
    k1 = ann_store._corpus_fingerprint(str(corpus))
    os.utime(corpus / "embeddings.parquet", ns=(1, 1))
    assert ann_store._corpus_fingerprint(str(corpus)) != k1


def test_crashed_writer_leftover_is_replaced(spark, sf_small, store_root):
    # simulate a crashed writer: a committed-key directory with no
    # _SUCCESS marker must be replaced, not served
    key_dir = os.path.join(store_root, "stale")
    os.makedirs(key_dir)
    result = ann_store._cache_or_train(
        key_dir,
        lambda: [[1.5]],
        lambda cents, p: write_kmeans_centroids(spark, cents, p),
        read_kmeans_centroids,
    )
    assert result == [[1.5]]
    assert os.path.exists(os.path.join(key_dir, "_SUCCESS"))
    assert read_kmeans_centroids(key_dir) == [[1.5]]

    # the same for a Spark-written table artifact, which is always
    # served as a read of the committed files
    table_dir = os.path.join(store_root, "stale_table")
    os.makedirs(table_dir)
    served = ann_store._cached_spark_table(spark, table_dir, lambda: spark.range(3))
    assert os.path.exists(os.path.join(table_dir, "_SUCCESS"))
    assert sorted(r.id for r in served.collect()) == [0, 1, 2]
    assert served.inputFiles()
    assert all(table_dir in f for f in served.inputFiles())


def test_pretrained_serve_equals_self_training(spark, sf_small, store_root):
    """The serve path (pretrained artifacts) must produce row-identical
    results to the self-training path — the contract that lets the
    training-unrolled oracles keep gating the serving queries."""
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    cents = trained_ivf_centroids(spark, sf_small)
    served = sorted(map(tuple, ivf_topk(emb, q, k=5, centroids=cents).collect()))
    trained = sorted(map(tuple, ivf_topk(emb, q, k=5).collect()))
    assert served == trained

    books = trained_pq_codebooks(spark, sf_small)
    served = sorted(map(tuple, pq_topk(emb, q, k=5, codebooks=books).collect()))
    trained = sorted(map(tuple, pq_topk(emb, q, k=5).collect()))
    assert served == trained


def test_persisted_codes_serve_equals_fresh_encode(spark, sf_small, store_root):
    """Serving from the persisted INDEX DATA (encoded code table /
    composed IVF-PQ index) must be row-identical to the
    encode-inside-the-query path — the contract that lets the
    training-unrolled oracles keep gating the index-backed serves."""
    from cassaforte_meter_transmission_gen_spark.operators.similarity import (
        ivfpq_topk,
    )
    from cassaforte_meter_transmission_gen_spark.sources.ann_store import (
        trained_ivfpq_index,
        trained_pq_codes,
    )

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    books = trained_pq_codebooks(spark, sf_small)
    codes = trained_pq_codes(spark, sf_small)
    served = sorted(
        map(
            tuple,
            pq_topk(emb, q, k=5, codebooks=books, codes=codes).collect(),
        )
    )
    fresh = sorted(
        map(tuple, pq_topk(emb, q, k=5, codebooks=books).collect())
    )
    assert served == fresh

    cents = trained_ivf_centroids(spark, sf_small)
    books8 = trained_pq_codebooks(spark, sf_small, n_subspaces=8)
    idx = trained_ivfpq_index(spark, sf_small)
    served = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, q, k=5, centroids=cents, codebooks=books8, index=idx
            ).collect(),
        )
    )
    fresh = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, q, k=5, centroids=cents, codebooks=books8
            ).collect(),
        )
    )
    assert served == fresh


def test_persisted_codes_cache_hit_no_rebuild(spark, sf_small, store_root):
    """Second read must come from the committed artifact (same rows),
    and the store must contain exactly one codes directory for the
    key — the cache, not a rebuild, serves repeat queries."""
    import os

    from cassaforte_meter_transmission_gen_spark.sources.ann_store import (
        trained_pq_codes,
    )

    first = sorted(map(tuple, trained_pq_codes(spark, sf_small).collect()))
    again = sorted(map(tuple, trained_pq_codes(spark, sf_small).collect()))
    assert first == again
    dirs = [d for d in os.listdir(store_root) if d.startswith("pqcodes_")]
    assert len(dirs) == 1 and ".tmp" not in dirs[0]


def test_pq_serve_plan_reads_persisted_codes_not_reencode(
    spark, sf_small, store_root
):
    """The warm-serve property the round-9 speedup rests on: with the
    index artifacts in the store, ann_pq_topk's plan must SCAN the
    persisted pqcodes parquet instead of carrying the 16
    argmin-over-codebook encode expressions over the embeddings
    table (the re-encode path would show a second embeddings scan
    feeding array_min folds)."""
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY

    df = REGISTRY["ann_pq_topk"].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # candidate side = a parquet scan whose ReadSchema carries the code
    # columns (the persisted artifact), NOT an argmin fold over a
    # second embeddings scan
    assert "code_0" in plan and "code_15" in plan, plan
    assert "array_min" not in plan, plan  # no in-plan re-encode
    df2 = REGISTRY["ann_ivfpq_topk"].fn(spark, sf_small)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    # composed index scan: cell id and codes come from ONE ReadSchema
    assert "cluster_id" in plan2 and "code_7" in plan2, plan2


def test_ann_recall_floors_vs_bruteforce(spark, sf_small):
    """Retrieval-QUALITY floors for every approximate serve path
    (VERDICT r10 #2): recall@5 against the exact brute-force top-5 at
    the graded operating points. The pipelines are deterministic, so
    these are stable statistics (measured at sf0.001: lsh 0.76,
    ivf 0.88, int8 1.00, pq 0.84, ivfpq 0.88); the floors sit far
    enough below to tolerate fixture evolution but fail loudly if a
    codebook/banding regression halves retrieval quality while
    preserving determinism (which every value-hash gate would miss —
    the hash gates pin THIS pipeline's output, not its usefulness).
    bench.py records the same statistic per round as ann_recall_at_5."""
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY

    exact: dict = {}
    for r in REGISTRY["ann_bruteforce_cosine_topk"].fn(spark, sf_small).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert exact  # 5 probe queries, 5 neighbors each

    floors = {
        "ann_lsh_bucketed_topk": 0.50,
        "ann_ivf_topk": 0.60,
        "ann_int8_quantized_topk": 0.95,
        "ann_pq_topk": 0.60,
        "ann_ivfpq_topk": 0.60,
    }
    got = {}
    for name, floor in floors.items():
        approx: dict = {}
        for r in REGISTRY[name].fn(spark, sf_small).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = [
            len(approx.get(q, set()) & s) / len(s) for q, s in exact.items()
        ]
        got[name] = sum(recalls) / len(recalls)
        spark.catalog.clearCache()
    failing = {n: r for n, r in got.items() if r < floors[n]}
    assert not failing, f"recall floors violated: {failing} (all: {got})"
