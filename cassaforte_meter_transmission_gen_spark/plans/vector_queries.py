"""Vector similarity-search catalog over ``embeddings`` (SURVEY §2.10).

Dot products and norms are sequential ``aggregate`` folds in double on
both engines (Spark ``aggregate``, DuckDB ``list_reduce``) — identical
operation order makes even floating-point outputs bit-reproducible, so
the exact ANN baseline is value-hash gated. The LSH variant is the
scale path and is rows-only checked (its hyperplane literals live in
the Spark plan)."""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    ANN_K,
    ANN_QUERIES,
    DEDUP_COS_HI,
    DEDUP_COS_LO,
    IVF_CLUSTERS,
    IVFPQ_SUBSPACES,
    KMEANS_SCALE,
    brute_force_topk,
    l2_norm_sql,
    lsh_topk,
)
from ..schemas import EMB_DIM, load_table
from . import vector_oracles
from .catalog import register
from .vector_oracles import DOT, NORM


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _ann_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(corpus, queries) of the shared ANN query shape: the queries are
    the first ANN_QUERIES vec_ids; every top-k entry ranks ANN_K."""
    e = _emb(spark, sf_dir)
    return e, e.filter(F.col("vec_id") < ANN_QUERIES)


@register(
    "vector_norms",
    oracle=f"""
SELECT vec_id, label, {NORM.format(v='embedding')} AS l2_norm
FROM embeddings
""",
    tags=("vector", "scalar"),
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm — JVM-side fold over the array column, no
    explode, no shuffle."""
    e = _emb(spark, sf_dir)
    return e.selectExpr("vec_id", "label", f"{l2_norm_sql('embedding')} AS l2_norm")


@register(
    "ann_bruteforce_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {ANN_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         {DOT.format(a='qv', b='cv')}
           / ({NORM.format(v='qv')} * {NORM.format(v='cv')}) AS cosine
  FROM c CROSS JOIN q
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}
""",
    tags=("vector", "ann"),
)
def ann_bruteforce_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a query set (vec_id < 5) against the full
    table — the correctness baseline for ANN (operators.similarity.
    brute_force_topk): broadcast queries, one scoring pass, per-query
    window rank."""
    return brute_force_topk(*_ann_inputs(spark, sf_dir))


@register(
    "vector_centroid_per_label",
    oracle=f"""
SELECT label, CAST(i AS INT) AS dim,
       CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {KMEANS_SCALE!r})
                          AS BIGINT)) AS BIGINT) AS DOUBLE)
         / {KMEANS_SCALE!r} / count(*) AS centroid
FROM embeddings CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
GROUP BY label, i
""",
    tags=("vector", "agg"),
)
def vector_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, dimension-wise: posexplode + exact
    fixed-point integer sums (order-independent and rounding-tie-free,
    so Spark's parallel aggregation matches the serial oracle
    bit-for-bit; quantization error ≤ 2⁻⁴⁰ per element)."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "label",
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.floor(F.col("val").cast("double") * F.lit(KMEANS_SCALE))
            .cast("long")
            .alias("v"),
        )
        .groupBy("label", "dim")
        .agg(
            (F.sum("v").cast("double") / F.lit(KMEANS_SCALE) / F.count("*")).alias(
                "centroid"
            )
        )
    )


@register(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
WITH a AS (SELECT vec_id AS dup_a, embedding AS va FROM embeddings
           WHERE vec_id < 200),
b AS (SELECT vec_id AS dup_b, embedding AS vb FROM embeddings
      WHERE vec_id < 200)
SELECT dup_a, dup_b,
       {DOT.format(a='va', b='vb')}
         / ({NORM.format(v='va')} * {NORM.format(v='vb')}) AS cosine
FROM a JOIN b ON dup_a < dup_b
WHERE {DOT.format(a='va', b='vb')}
        / ({NORM.format(v='va')} * {NORM.format(v='vb')}) >= {DEDUP_COS_LO}
""",
    tags=("dedup", "vector", "cosine"),
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact form (operators.
    dedup.embedding_cosine_duplicates): every (a<b) pair at cosine
    ≥ 0.4 — the fourth dedup family of the north star (exact / MinHash
    / SimHash / embedding-cosine). Sequential-fold cosine keeps the
    threshold comparison bit-identical to the serial oracle.

    BOUNDED ground-truth baseline: restricted to the deterministic
    ``vec_id < 200`` slice (like ``text_ngram_jaccard_pairs``'s
    ``doc_id < 40`` bound) so the O(n²) self-join stays a fixed-size
    verification fixture instead of a full-corpus cartesian — the
    full-corpus paths are ``dedup_embedding_cosine_lsh`` and
    ``vector_dedup_cosine_lsh_hi``, whose bucketed candidate joins
    are the 100 TB shapes."""
    from ..operators.dedup import embedding_cosine_duplicates

    return embedding_cosine_duplicates(
        _emb(spark, sf_dir).filter(F.col("vec_id") < 200),
        threshold=DEDUP_COS_LO,
    )


@register(
    "dedup_embedding_cosine_lsh",
    oracle=vector_oracles.dedup_embedding_cosine_lsh_sql(),
    tags=("dedup", "vector", "cosine", "lsh"),
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH candidate buckets + exact
    cosine verification (operators.dedup.embedding_cosine_duplicates_
    lsh), as a BOUNDED ground-truth fixture: restricted to the
    deterministic ``vec_id < EMB_LSH_VERIFY_BOUND`` slice (the
    ``dedup_embedding_cosine_pairs`` pattern). At threshold 0.4 the
    per-plane agreement (0.63 vs 0.5 random) makes LSH pruning
    mathematically impossible — measured exponent 1.90 at 10×
    (SCALING_r11.json) — so this configuration is demoted off the
    scale path (VERDICT r11 #1); the unbounded 0.4-threshold scale
    form is ``dedup_semantic_clusters`` (adaptive cells, measured exp
    0.84); round 12 measured the SAME constant-candidate-fraction
    quadratic in the 0.8-threshold LSH form at staged 100× (spill
    blow-up), so high-threshold scale semantics ride
    ``vector_dedup_cosine_cells_hi`` (adaptive cells) too. Fully hash-gated: the
    hyperplanes are fixed-seed literals, so the oracle
    (plans.vector_oracles) re-derives the identical bucket structure
    in serial SQL over the same bounded slice. Precision 1.0 / recall
    vs the exact form additionally asserted in tests."""
    from ..operators.dedup import embedding_cosine_duplicates_lsh

    return embedding_cosine_duplicates_lsh(
        _emb(spark, sf_dir).filter(
            F.col("vec_id") < vector_oracles.EMB_LSH_VERIFY_BOUND
        ),
        threshold=DEDUP_COS_LO,
    )


@register(
    "vector_dedup_cosine_lsh_hi",
    oracle=vector_oracles.dedup_embedding_cosine_lsh_stats_sql(),
    tags=("dedup", "vector", "cosine", "lsh", "parity-twin"),
)
def vector_dedup_cosine_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB LSH-dedup configuration (threshold 0.8, 16 tables ×
    8 planes — operators.dedup.embedding_cosine_lsh_stats), gated on
    its PRUNING PROFILE: one row (n_candidates, n_pairs,
    candidate_fraction, n_matches). Unlike the 0.4-threshold form
    (where per-plane agreement 0.63 vs 0.5 random makes pruning
    mathematically impossible), this regime prunes candidates to
    ≈ 16·0.5⁸ ≈ 6% of all pairs — and because the hyperplanes are
    fixed-seed literals, that measured fraction is value-hash verified
    against the serial DuckDB re-derivation, not just asserted. The
    test corpus has no pairs at cosine ≥ 0.8 (max ≈ 0.5 at sf0.01), so
    n_matches = 0 here; the matched-pairs path is exercised by the
    0.4-threshold twin."""
    from ..operators.dedup import embedding_cosine_lsh_stats

    return embedding_cosine_lsh_stats(
        _emb(spark, sf_dir), threshold=DEDUP_COS_HI
    )


@register(
    "ann_lsh_bucketed_topk",
    oracle=vector_oracles.ann_lsh_topk_sql(),
    tags=("vector", "ann", "lsh", "scale"),
)
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets (operators.
    similarity.lsh_topk) — the 100 TB path: bucket equi-join instead of
    a cross product. Fully hash-gated via the generated hyperplane
    oracle (plans.vector_oracles); recall vs the exact baseline is
    asserted in tests."""
    return lsh_topk(*_ann_inputs(spark, sf_dir))


#: rows the pandas-UDF cosine entry scores (engine and oracle)
_UDF_ROWS = 500


@register(
    "vector_cosine_pandas_udf",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       {DOT.format(a='embedding', b='qv')}
         / ({NORM.format(v='embedding')} * {NORM.format(v='qv')}) AS cosine
FROM embeddings CROSS JOIN q
WHERE vec_id < {_UDF_ROWS}
""",
    tags=("vector", "pandas-udf", "arrow"),
)
def vector_cosine_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 vectorized-UDF surface, proven bit-exact: cosine to a
    fixed query vector computed in a scalar @pandas_udf (Arrow batches,
    numpy) instead of the JVM fold. The accumulation loops over the 64
    dimensions IN ORDER, vectorized across rows — the same sequential
    float64 operation order as aggregate()/list_reduce, so the Python
    path hash-matches the SQL oracle exactly. The pattern to follow
    when an operator genuinely needs Python at 100 TB: order-stable
    math, Arrow batches, narrow output columns."""
    e = _emb(spark, sf_dir)
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]

    @F.pandas_udf("double")
    def cos_to_q(col: pd.Series) -> pd.Series:
        import numpy as np

        M = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        q = np.asarray(qvec, dtype=np.float64)
        dot = np.zeros(len(M))
        vv = np.zeros(len(M))
        qq = 0.0
        for j in range(M.shape[1]):  # sequential per-dimension order
            dot = dot + M[:, j] * q[j]
            vv = vv + M[:, j] * M[:, j]
            qq = qq + q[j] * q[j]
        return pd.Series(dot / (np.sqrt(vv) * np.sqrt(qq)))

    return e.filter(F.col("vec_id") < _UDF_ROWS).select(
        "vec_id", cos_to_q(F.col("embedding")).alias("cosine")
    )


@register(
    "vector_centroid_grouped_pandas",
    oracle=f"""
SELECT label, CAST(i AS INT) AS dim,
       CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {KMEANS_SCALE!r})
                          AS BIGINT)) AS BIGINT) AS DOUBLE)
         / {KMEANS_SCALE!r} / count(*) AS centroid
FROM embeddings CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
GROUP BY label, i
""",
    tags=("vector", "pandas-udf", "grouped"),
)
def vector_centroid_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 grouped-map surface (applyInPandas), same oracle as the
    pure-SQL centroid: per-label centroids computed in Python with the
    fixed-point integer-sum trick — int64 sums are order-independent,
    so arbitrary Arrow batch order inside the group cannot change the
    result. One shuffle (the groupBy), payload = the group's vectors."""
    e = _emb(spark, sf_dir)
    scale = KMEANS_SCALE

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        M = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        sums = np.floor(M * scale).astype(np.int64).sum(axis=0)
        n = len(M)
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "dim": np.arange(1, M.shape[1] + 1, dtype=np.int32),
                "centroid": sums.astype(np.float64) / scale / n,
            }
        )

    return e.groupBy("label").applyInPandas(
        centroid, schema="label int, dim int, centroid double"
    )


@register(
    "ann_ivf_topk",
    oracle=vector_oracles.ann_ivf_topk_sql(),
    tags=("vector", "ann", "ivf", "scale"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators.similarity.ivf_topk): deterministic mini
    k-means coarse quantizer → inverted-file partition → probe the 4
    nearest of 16 cells per query. The second scale path next to the
    LSH variant: at 100 TB the cluster id becomes the storage
    partition key, so probing prunes files instead of rows. Fully
    hash-gated: the k-means update uses order-independent fixed-point
    sums, so the oracle (plans.vector_oracles) unrolls the identical
    3-iteration training run as serial SQL CTEs. Training uses the
    default ``"auto"`` hash sample; the oracle re-derives the same
    denominator in SQL from the same count(*), so plan and oracle stay
    in lockstep at every scale factor (on small corpora both resolve
    to full training, preserving recall).

    SERVES FROM PERSISTED STATE (train once, serve many): the coarse
    centroids come from sources.ann_store.trained_ivf_centroids — the
    first invocation against a corpus trains and persists them, every
    later one reads the artifact and pays only the assignment scan.
    Bit-identical either way (deterministic trainer, exact DOUBLE
    round-trip), so the training-unrolled oracle stays valid; the
    artifact itself is hash-verified by ``ann_ivf_train_centroids``."""
    from ..operators.similarity import ivf_topk
    from ..sources.ann_store import trained_ivf_centroids

    cents = trained_ivf_centroids(spark, sf_dir)
    return ivf_topk(*_ann_inputs(spark, sf_dir), centroids=cents)


@register(
    "dedup_semantic_clusters",
    oracle=vector_oracles.dedup_semantic_clusters_sql(DEDUP_COS_LO),
    tags=("dedup", "vector", "semantic", "kmeans", "scale"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (operators.dedup.
    semantic_duplicates_clustered): deterministic k-means cells confine
    the exact-cosine pairwise verify — the data-adaptive counterpart to
    the LSH buckets, and at 100 TB the cell id doubles as the storage
    partition key so the pairwise pass runs partition-local. Fully
    hash-gated via the shared unrolled-k-means oracle chain. Serves
    from the persisted quantizer (same trainer+config as IVF, so the
    artifact is shared — train once, every consumer reads).

    Scale fix (SCALING_r11 before-fix exponent 1.81): the cell COUNT
    is corpus-adaptive (operators.dedup.semantic_n_clusters — cell
    SIZE held ≈ constant), so the within-cell pairwise verify grows
    linearly with the corpus instead of quadratically. Every parity
    corpus resolves to the legacy fixed 16 cells (the oracle-gated
    branch; ≤ 2 000 vectors at SEMDEDUP_TARGET_CELL = 125); beyond
    2 000 vectors the adaptive branch trains its own k = ceil(n/125)
    quantizer on the deterministic hash sample."""
    from ..operators.dedup import (
        semantic_duplicates_clustered,
        semantic_n_clusters,
    )
    from ..sources.ann_store import trained_ivf_centroids

    e = _emb(spark, sf_dir)
    k = semantic_n_clusters(e.count())
    if k == IVF_CLUSTERS:  # parity configuration — shared persisted quantizer
        cents = trained_ivf_centroids(spark, sf_dir)
        return semantic_duplicates_clustered(
            e, threshold=DEDUP_COS_LO, centroids=cents
        )
    return semantic_duplicates_clustered(
        e, threshold=DEDUP_COS_LO, n_clusters=k, train_sample_denom="auto"
    )


@register(
    "ann_int8_quantized_topk",
    oracle=vector_oracles.ann_int8_topk_sql(),
    tags=("vector", "ann", "quantization", "scale"),
)
def ann_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via int8 scalar quantization + exact rerank (operators.
    similarity.int8_topk): the IO-reduction scale path — candidates are
    scored with exact int64 dot products over 4×-smaller codes, only
    the top k×4 band per query is rescored with the exact cosine on
    full vectors. Deterministic throughout (floor codes, integer dots),
    so even the approximate band is value-hash verified against the
    serial oracle."""
    from ..operators.similarity import int8_topk

    return int8_topk(*_ann_inputs(spark, sf_dir))


@register(
    "ann_ivf_sampled_topk",
    oracle=vector_oracles.ann_ivf_topk_sql(train_sample_denom=4),
    tags=("vector", "ann", "ivf", "sampled"),
)
def ann_ivf_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a PINNED 1/4 training sample — the explicit proof
    that the sampled-training path (the 100 TB lever: the n_iters+1
    k-means scans touch a deterministic hash sample instead of the full
    table) stays bit-lockstep with the serial oracle even when the
    sample is a strict subset. The flagship ``ann_ivf_topk`` uses
    ``"auto"`` sizing, which on the small verification corpora resolves
    to full training; this twin pins denom=4 on BOTH sides
    (operators.similarity.train_sample_sql is the single predicate
    source), so the external hash gate exercises the sampled branch
    itself. Hash-gated only — recall floors apply to the auto path,
    not a deliberately coarse fixture."""
    from ..operators.similarity import ivf_topk

    return ivf_topk(*_ann_inputs(spark, sf_dir), train_sample_denom=4)


@register(
    "ann_pq_topk",
    oracle=vector_oracles.ann_pq_topk_sql(),
    tags=("vector", "ann", "pq", "quantization", "scale"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization + asymmetric distance computation
    (operators.similarity.pq_topk): per-subspace fixed-point-k-means
    codebooks, 16 integer codes per candidate, per-query lookup tables
    — scoring a candidate is 16 array lookups instead of a 64-dim dot,
    and the encoded table the candidate scan reads is ~16× narrower
    than the float32 vectors (25.9× measured on disk, bench pq_io).
    The top k×8 band per approximate cosine
    is reranked with the exact cosine on full vectors re-attached by
    id. Deterministic end to end, so even the approximate band is
    value-hash gated against the serial oracle
    (plans.vector_oracles.ann_pq_topk_sql: one unrolled k-means CTE
    chain per subspace over the sliced vectors). Training uses the
    same ``"auto"`` hash-sample sizing as IVF, mirrored in the
    oracle's SQL-computed denominator.

    SERVES FROM PERSISTED STATE (train once, serve many): codebooks
    come from sources.ann_store.trained_pq_codebooks AND the encoded
    candidate table from trained_pq_codes — round 7 profiled in-query
    training at 5.4 s of this query's 5.8 s at sf0.1; round 9 moved
    the per-query re-encode (16 argmin-over-codebook expression trees,
    the bulk of remaining warm-serve compile+scan cost) into the
    persisted index as well, leaving only the ADC score + rerank.
    Bit-identical to self-training/encoding, so the training-unrolled
    oracle stays valid; the artifacts themselves are hash-verified by
    ``ann_pq_train_codebooks`` / ``ann_pq_index_codes``."""
    from ..operators.similarity import pq_topk
    from ..sources.ann_store import trained_pq_codebooks, trained_pq_codes

    books = trained_pq_codebooks(spark, sf_dir)
    codes = trained_pq_codes(spark, sf_dir)
    return pq_topk(*_ann_inputs(spark, sf_dir), codebooks=books, codes=codes)


@register(
    "ann_pq_sampled_topk",
    oracle=vector_oracles.ann_pq_topk_sql(train_sample_denom=4),
    tags=("vector", "ann", "pq", "sampled"),
)
def ann_pq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with a PINNED 1/4 training sample — the explicit proof
    that PQ's sampled-training path stays bit-lockstep with the serial
    oracle when the sample is a strict subset (the same role
    ``ann_ivf_sampled_topk`` plays for IVF: the flagship
    ``ann_pq_topk`` uses ``"auto"`` sizing, which resolves to full
    training on the small verification corpora, so without this twin
    the sampled branch would never face the external hash gate). All
    16 subspace codebooks train on the same deterministic hash-sample
    id set (operators.similarity.train_sample_sql, floor_ids =
    n_codes), mirrored verbatim into each subspace's training CTEs.
    Hash-gated only — recall floors apply to the auto path, not a
    deliberately coarse fixture."""
    from ..operators.similarity import pq_topk

    return pq_topk(*_ann_inputs(spark, sf_dir), train_sample_denom=4)


@register(
    "ann_ivfpq_topk",
    oracle=vector_oracles.ann_ivfpq_topk_sql(),
    tags=("vector", "ann", "ivf", "pq", "quantization", "scale"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators.similarity.ivfpq_topk) — the composed
    100 TB vector-index layout, the shape of a Faiss ``IVF16,PQ8``
    index with raw-vector (non-residual) codebooks: the IVF coarse
    quantizer prunes the scan to the 4 probed cells of 16 (at scale:
    file-level pruning on the cell partition key), PQ asymmetric
    distance scores the surviving candidates from 8 integer codes per
    row (the scan reads ~16×-narrower codes, never embeddings), and
    the top k×16 band is reranked with the exact cosine. The two
    prunings compose multiplicatively — ~¼ of the corpus at ~1/16 the
    bytes. One candidate scan emits (id, cell, codes): IVF and PQ add
    no extra pass. Deterministic throughout (fixed-point k-means for
    both quantizers, fixed-order ADC sums), so even the approximate
    band is value-hash gated against the serial oracle
    (plans.vector_oracles.ann_ivfpq_topk_sql); recall vs the exact
    baseline is asserted in tests.

    SERVES FROM PERSISTED STATE (train once, serve many): both
    quantizers come from sources.ann_store, and the candidate-side
    assign+encode scan reads the persisted composed index table
    (trained_ivfpq_index: one (vec_id, cluster_id, codes) parquet —
    what a Faiss IVF,PQ index stores per vector), leaving only the
    probed-cell join, ADC score, and rerank per query (see
    ``ann_pq_topk`` for the measured shares)."""
    from ..operators.similarity import ivfpq_topk
    from ..sources.ann_store import (
        trained_ivf_centroids,
        trained_ivfpq_index,
        trained_pq_codebooks,
    )

    cents = trained_ivf_centroids(spark, sf_dir)
    books = trained_pq_codebooks(spark, sf_dir, n_subspaces=IVFPQ_SUBSPACES)
    idx = trained_ivfpq_index(spark, sf_dir)
    return ivfpq_topk(
        *_ann_inputs(spark, sf_dir), centroids=cents, codebooks=books, index=idx
    )


@register(
    "ann_ivf_train_centroids",
    oracle=vector_oracles.ivf_centroids_sql(),
    tags=("vector", "ann", "ivf", "training", "artifact"),
)
def ann_ivf_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINING pipeline as a first-class query: train (or read) the
    persisted IVF coarse-centroid artifact (sources.ann_store.
    trained_ivf_centroids) and return it as rows (cid, pos, val) — one
    row per trained coefficient. The oracle re-derives the identical
    k-means run as unrolled serial SQL, so a hash-green row proves the
    ON-DISK artifact every serve-path query reads is bit-identical to a
    fresh training run — the external gate for the train-once/
    serve-many separation (the r6 lesson: never change the serving plan
    without an oracle on what it now depends on)."""
    from ..sources.ann_store import trained_ivf_centroids

    cents = trained_ivf_centroids(spark, sf_dir)
    rows = [
        (cid, pos, float(v))
        for cid, c in enumerate(cents)
        for pos, v in enumerate(c)
    ]
    return spark.createDataFrame(rows, "cid int, pos int, val double")


@register(
    "ann_pq_train_codebooks",
    oracle=vector_oracles.pq_codebooks_sql(),
    tags=("vector", "ann", "pq", "training", "artifact"),
)
def ann_pq_train_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ training pipeline as a first-class query: train (or read)
    the persisted 16-subspace codebook artifact (sources.ann_store.
    trained_pq_codebooks) and return it as rows (subspace, cid, pos,
    val). Same role as ``ann_ivf_train_centroids`` for the PQ family:
    the serial-SQL re-derivation hash-verifies the artifact
    ``ann_pq_topk`` serves from."""
    from ..sources.ann_store import trained_pq_codebooks

    books = trained_pq_codebooks(spark, sf_dir)
    rows = [
        (j, cid, pos, float(v))
        for j, book in enumerate(books)
        for cid, c in enumerate(book)
        for pos, v in enumerate(c)
    ]
    return spark.createDataFrame(rows, "subspace int, cid int, pos int, val double")


@register(
    "ann_pq_index_codes",
    oracle=vector_oracles.pq_index_codes_sql(),
    tags=("vector", "ann", "pq", "indexing", "artifact"),
)
def ann_pq_index_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ ENCODING pipeline as a first-class query: encode (or
    read) the persisted candidate-code table (sources.ann_store.
    trained_pq_codes) and return it as (vec_id, code_0..code_15) —
    one row per corpus vector, 16 small ints each. Completes the
    artifact gates: ``ann_pq_train_codebooks`` proves the trained
    PARAMETERS on disk, this proves the encoded INDEX DATA the
    ``ann_pq_topk`` serve scan actually reads (the oracle re-derives
    training + argmin assignment serially, so a hash-green row means
    the persisted codes are bit-identical to a fresh encode).

    Scale shape: the build is one narrow projection over the corpus
    (pq_encode — no shuffle, no Python), paid once per corpus
    fingerprint; the read is a plain parquet scan of ~16 ints/row."""
    from ..sources.ann_store import trained_pq_codes

    return trained_pq_codes(spark, sf_dir)


@register(
    "ann_ivfpq_index_rows",
    oracle=vector_oracles.ivfpq_index_rows_sql(),
    tags=("vector", "ann", "ivf", "pq", "indexing", "artifact"),
)
def ann_ivfpq_index_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ INDEX as a first-class query: build (or
    read) the persisted (vec_id, cluster_id, code_0..code_7) table
    (sources.ann_store.trained_ivfpq_index) — the coarse cell
    assignment and the 8 subspace codes per corpus vector, which is
    exactly what a Faiss IVF,PQ index stores. The oracle re-derives
    both quantizers and both argmin assignments serially, so a
    hash-green row completes the artifact chain: parameters
    (`ann_ivf_train_centroids`, `ann_pq_train_codebooks`), PQ index
    data (`ann_pq_index_codes`), and now the composed serve table
    `ann_ivfpq_topk` actually scans.

    Scale shape: the build is ONE scan emitting cell + codes together
    (assign and encode are projections of the same row), paid once per
    corpus fingerprint; at 100 TB this table IS the vector index —
    partitioned by cluster_id for probe-time directory pruning."""
    from ..sources.ann_store import trained_ivfpq_index

    return trained_ivfpq_index(spark, sf_dir)


@register(
    "pipeline_cluster_quality_report",
    oracle=vector_oracles.cluster_doc_quality_sql(),
    tags=("pipeline", "vector", "text", "curation", "kmeans"),
)
def pipeline_cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation report: every embedding is assigned to its
    deterministic k-means cell (the same coarse quantizer IVF and
    semantic dedup share), document metadata joins on doc_id = vec_id,
    and each cell reports document count, total/average length, and
    language diversity — the ranking a curation pass uses to decide
    which semantic clusters to prune or downsample (SemDeDup + quality
    filtering operate per cluster, not per corpus). At 100 TB the
    assignment is a narrow projection, the join is id-on-id
    (co-partitionable by the shared key), and the aggregates are
    order-independent integer sums with one final double division —
    value-hash gated through the unrolled-k-means oracle chain. Serves
    from the persisted quantizer shared with IVF and semantic dedup
    (sources.ann_store.trained_ivf_centroids)."""
    from ..operators.similarity import assign_to_centroid
    from ..sources.ann_store import trained_ivf_centroids

    e = _emb(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    cents = trained_ivf_centroids(spark, sf_dir)
    cells = assign_to_centroid(e, cents).select("vec_id", "cluster_id")
    return (
        cells.join(d, cells["vec_id"] == d["doc_id"])
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (
                F.sum("n_chars").cast("long").cast("double")
                / F.count("*").cast("double")
            ).alias("avg_chars"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
        )
    )


#: contrastive-triplet fixture: 10 anchors, 1 exact positive, 5
#: hash-sampled negatives from outside the top-50 neighborhood
TRIPLET_ANCHORS = 10
TRIPLET_K_NEG = 5
TRIPLET_EXCLUDE_TOP = 50


def vector_contrastive_triplets_sql() -> str:
    """Oracle for operators.contrastive.contrastive_triplets: the
    sequential-fold cosine ranking (same dialect as ann_bruteforce),
    the corpus-count-derived prefilter denominator computed IN SQL
    (``greatest(1, count(*) // NEG_POOL_TARGET)``, mirroring the
    driver-side neg_pool_denom), and the md5-portable (anchor, cand)
    hash as the negative sampling priority."""
    from ..operators.contrastive import NEG_POOL_TARGET

    dot = DOT.format(a="av", b="cv")
    na = NORM.format(v="av")
    nc = NORM.format(v="cv")
    pri = (
        "CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || ':' ||"
        " CAST(cand_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    return f"""
WITH q AS (SELECT vec_id AS anchor_id, embedding AS av
           FROM embeddings WHERE vec_id < {TRIPLET_ANCHORS}),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT anchor_id, cand_id, {dot} / ({na} * {nc}) AS cosine
  FROM c CROSS JOIN q
  WHERE anchor_id <> cand_id
),
ranked AS (
  SELECT anchor_id, cand_id, cosine,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cosine DESC, cand_id) AS rn
  FROM scored
),
pos AS (
  SELECT anchor_id, cand_id AS positive_id, cosine AS positive_cosine
  FROM ranked WHERE rn = 1
),
d AS (SELECT greatest(1, count(*) // {NEG_POOL_TARGET}) AS denom
      FROM embeddings),
pool AS (
  SELECT r.anchor_id, r.cand_id
  FROM ranked r CROSS JOIN d
  WHERE r.rn > {TRIPLET_EXCLUDE_TOP}
    AND ({pri.replace("anchor_id", "r.anchor_id").replace("cand_id", "r.cand_id")}) % d.denom = 0
),
negr AS (
  SELECT anchor_id, cand_id AS negative_id,
         CAST(row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY {pri}, cand_id)
              AS INT) AS neg_rank
  FROM pool
)
SELECT p.anchor_id, p.positive_id, p.positive_cosine,
       n.negative_id, n.neg_rank
FROM pos p JOIN negr n ON p.anchor_id = n.anchor_id
WHERE n.neg_rank <= {TRIPLET_K_NEG}"""


@register(
    "vector_contrastive_triplets",
    oracle=vector_contrastive_triplets_sql(),
    tags=("vector", "contrastive", "training", "sampling"),
)
def vector_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplets (operators.contrastive): for each
    of 10 anchors, the exact nearest neighbor as the positive and 5
    deterministic hash-sampled negatives drawn from outside the top-50
    neighborhood (excluding the near-neighborhood avoids false
    negatives). The negative pool is pre-pruned by the corpus-count-
    derived hash denominator before the per-anchor priority sort — the
    same auto-denominator pattern as IVF sampled training, so the sort
    is bounded at any corpus size. Fully value-hash gated: exact-fold
    cosines, integer hash priorities."""
    from ..operators.contrastive import contrastive_triplets

    e = _emb(spark, sf_dir)
    return contrastive_triplets(
        e,
        e.filter(F.col("vec_id") < TRIPLET_ANCHORS),
        k_neg=TRIPLET_K_NEG,
        exclude_top=TRIPLET_EXCLUDE_TOP,
    )


@register(
    "vector_norm_grouped_agg_udf",
    oracle=f"""
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(floor({{norm}} * {KMEANS_SCALE!r}) AS BIGINT))
            AS BIGINT) AS norm_micro_sum
FROM embeddings
GROUP BY label
""".format(norm=NORM.format(v="embedding")),
    tags=("vector", "pandas-udf", "grouped-agg", "arrow"),
)
def vector_norm_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 GROUPED_AGG pandas-UDF surface — the one vectorized-UDF
    flavor the catalog had not exercised (scalar pandas_udf,
    applyInPandas grouped-map, mapInPandas, applyInPandasWithState, and
    the UDTF already are): a true aggregate UDF usable inside
    ``groupBy().agg(...)``, here summing each label's fixed-point L2
    norms.

    Determinism discipline for Python aggregation: the UDF receives
    the group's rows in ARBITRARY order across retries/partitions, so
    the reduction must be order-free — each norm (a per-row sequential
    float64 fold, bit-stable) is floored to int64 micro-units FIRST
    and the int64s are summed (the same move the applyInPandas
    centroid uses). A float sum here would be order-dependent and
    could never hash-match the oracle.

    Scale: partial aggregation applies to pandas GROUPED_AGG (Spark
    evaluates it per partition then merges? No — GROUPED_AGG is
    whole-group: one shuffle on label, payload = the group's vectors;
    at 100 TB prefer the pure-SQL integer sum when expressible, this
    query exists to pin the API's exactness contract)."""
    e = _emb(spark, sf_dir)
    scale = KMEANS_SCALE

    @F.pandas_udf("long")
    def norm_micro_sum(col: pd.Series) -> int:
        import numpy as np

        M = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        vv = np.zeros(len(M))
        for j in range(M.shape[1]):  # sequential per-dimension order
            vv = vv + M[:, j] * M[:, j]
        return int(np.floor(np.sqrt(vv) * scale).astype(np.int64).sum())

    # GROUPED_AGG UDFs cannot mix with non-pandas aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count rides as a
    # second pandas aggregate
    @F.pandas_udf("long")
    def n_rows(col: pd.Series) -> int:
        return len(col)

    return e.groupBy("label").agg(
        n_rows(F.col("vec_id")).alias("n_vecs"),
        norm_micro_sum(F.col("embedding")).alias("norm_micro_sum"),
    )


@register(
    "pipeline_class_weights",
    oracle="""
WITH c AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
  FROM embeddings GROUP BY 1
),
t AS (SELECT CAST(SUM(n_label) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_classes FROM c)
SELECT c.label, c.n_label, t.n_total,
       (t.n_total * 1000000) // (t.n_classes * c.n_label)
         AS weight_ppm
FROM c CROSS JOIN t
""",
    tags=("pipeline", "training", "class-balance", "integer-exact"),
)
def pipeline_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights for imbalanced training — the
    sklearn ``class_weight='balanced'`` formula
    ``n_total / (n_classes · n_label)`` carried as EXACT integer ppm,
    so the weight table every trainer consumes is value-hash
    reproducible (a float division here would be the one
    nondeterministic input to an otherwise deterministic data
    pipeline). One label groupBy (partial agg) + one broadcast totals
    row; the output is dimension-sized and broadcasts into the
    training join at any corpus scale."""
    e = _emb(spark, sf_dir)
    c = (
        e.groupBy("label")
        .agg(F.count("*").cast("long").alias("n_label"))
        # consumed by both the totals aggregate and the weight
        # projection — pinned so the fact scan runs once
        .localCheckpoint(eager=True)
    )
    t = c.agg(
        F.sum("n_label").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_classes"),
    )
    return c.crossJoin(F.broadcast(t)).selectExpr(
        "label",
        "n_label",
        "n_total",
        "(n_total * 1000000) DIV (n_classes * n_label) AS weight_ppm",
    )


@register(
    "vector_pca_second_moments",
    oracle=f"""
WITH prods AS (
  SELECT (p1.i - 1) * {EMB_DIM} + (p2.i - 1) AS pk,
         CAST(round(CAST(e.embedding[p1.i] AS DOUBLE)
                    * CAST(e.embedding[p2.i] AS DOUBLE)
                    * 1000000000000) AS DECIMAL(20,0)) AS v
  FROM embeddings e, range(1, {EMB_DIM + 1}) p1(i), range(1, {EMB_DIM + 1}) p2(i)
  WHERE p2.i >= p1.i
)
SELECT CAST(pk // {EMB_DIM} AS BIGINT) AS i,
       CAST(pk % {EMB_DIM} AS BIGINT) AS j,
       CAST(SUM(v) AS DECIMAL(38,0)) AS m2_p12
FROM prods GROUP BY pk
""",
    tags=("vector", "pca", "scale-path", "scale"),
)
def vector_pca_second_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle second-moment (Gram) matrix of the embedding
    corpus in exact pico-units — the distributed half of
    covariance-method PCA (operators.pca). One pass, fixed-size output
    (2 080 rows) no matter the corpus size: per-row pairwise products
    are one generated JVM expression, the groupBy partial-aggregates
    each task to ≤2 080 rows before the only shuffle, and the
    quantize-in-double-then-integer-sum carrier makes the moments
    bit-identical across any cluster size AND across engines
    (float32×float32 is exact in double; round(·×1e12) is one IEEE op).
    Served by the Arrow kernel (numpy outer-product accumulation per
    batch, exact HALF_UP quantizer — unit-asserted bit-equal to the
    pure-JVM expression form, which measured 8.1 s steady at sf0.1 vs
    this kernel's sub-second pass). The driver-side eigh over this
    summary is unit-tested against numpy.cov (tests/test_llm_ops.py)."""
    from ..operators.pca import second_moments_upper_arrow

    return second_moments_upper_arrow(_emb(spark, sf_dir))


#: k-NN classifier probes: the held-out ids (vec_id % 5 = 0) capped at
#: a FIXED id bound so the exact all-pairs score stays a constant-size
#: query set against a growing corpus (the bounded-exact-twin
#: convention; the unbounded serve path is the IVF/PQ index family).
KNN_PROBE_BOUND = 200
KNN_K = 5


@register(
    "vector_knn_label_confusion",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS actual_label, embedding AS qv
  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < {KNN_PROBE_BOUND}
),
c AS (
  SELECT vec_id AS neighbor_id, label, embedding AS cv
  FROM embeddings WHERE vec_id % 5 <> 0
),
scored AS (
  SELECT query_id, actual_label, neighbor_id, label,
         {DOT.format(a='qv', b='cv')}
           / ({NORM.format(v='qv')} * {NORM.format(v='cv')}) AS cosine
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, actual_label, label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM ranked WHERE rank <= {KNN_K}
  GROUP BY query_id, actual_label, label
),
pred AS (
  SELECT query_id, actual_label, label AS pred_label,
         row_number() OVER (PARTITION BY query_id
             ORDER BY n_votes DESC, label) AS rk
  FROM votes
)
SELECT actual_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_queries
FROM pred WHERE rk = 1
GROUP BY actual_label, pred_label
""",
    tags=("vector", "knn", "classifier"),
)
def vector_knn_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classifier evaluation — the embedding-space dual of
    the Naive Bayes text classifier: each held-out probe (vec_id % 5,
    fixed id bound) is classified by majority label among its 5 exact
    cosine-nearest TRAIN vectors (ties: smallest label), reported as
    the (actual, predicted) confusion matrix. This is the standard
    embedding-quality probe a pipeline runs after training an encoder:
    if labels aren't recoverable from neighborhoods, the embedding —
    not the classifier — is the problem.

    Plan: the exact scorer is operators.similarity.brute_force_topk
    (broadcast probe set, one scoring pass over the train fold,
    per-probe WindowGroupLimit), then an integer vote count and a
    5-row argmax window. The probe set is FIXED-SIZE by construction,
    so the exact pass stays linear in the corpus; the unbounded serve
    path is the trained IVF/PQ index family."""
    from ..operators.similarity import brute_force_topk

    e = _emb(spark, sf_dir)
    probes = e.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < KNN_PROBE_BOUND)
    )
    train = e.filter(F.col("vec_id") % 5 != 0)
    topk = brute_force_topk(train, probes, k=KNN_K)
    labels = e.select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), "label"
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    actual = probes.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("actual_label"),
    )
    return (
        actual.join(pred, "query_id")
        .groupBy("actual_label", "pred_label")
        .agg(F.count("*").cast("long").alias("n_queries"))
    )


@register(
    "vector_dedup_cosine_cells_hi",
    oracle=vector_oracles.dedup_semantic_clusters_sql(DEDUP_COS_HI),
    tags=("dedup", "vector", "semantic", "kmeans", "scale"),
)
def vector_dedup_cosine_cells_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HIGH-threshold (0.8) embedding near-dup SCALE PATH —
    adaptive k-means cells confining the exact verify, replacing the
    banded hyperplane-LSH form on the scale path (round 12): the LSH
    configuration prunes candidates to a constant FRACTION of all
    pairs (16·0.5⁸ ≈ 6% — its own docstring's math), which is still
    quadratic; the 1×→10× exponent read 0.89 only because fixed costs
    dominate at small n, and the staged 100× probe (200k vectors)
    exposed the knee by exhausting 78 GB of shuffle spill. Hyperplane
    LSH cannot beat n^(1+ρ) with ρ = ln 0.795/ln 0.5 ≈ 0.33 at this
    threshold even with corpus-adaptive plane counts, so the scale
    semantics re-route through the measured-linear adaptive-cell path
    (the identical resolution VERDICT r11 prescribed for the 0.4
    threshold); `vector_dedup_cosine_lsh_hi` stays registered as the
    oracle-gated LSH twin on parity corpora, where it is exact and
    cheap. Same parity economics as `dedup_semantic_clusters`: every
    parity corpus resolves to the shared persisted 16-cell quantizer
    (oracle-gated), the adaptive branch engages beyond 2 000 vectors."""
    from ..operators.dedup import (
        semantic_duplicates_clustered,
        semantic_n_clusters,
    )
    from ..sources.ann_store import trained_ivf_centroids

    e = _emb(spark, sf_dir)
    k = semantic_n_clusters(e.count())
    if k == IVF_CLUSTERS:  # parity configuration — shared persisted quantizer
        cents = trained_ivf_centroids(spark, sf_dir)
        return semantic_duplicates_clustered(
            e, threshold=DEDUP_COS_HI, centroids=cents
        )
    return semantic_duplicates_clustered(
        e, threshold=DEDUP_COS_HI, n_clusters=k, train_sample_denom="auto"
    )
