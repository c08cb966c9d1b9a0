"""Vector similarity search over embedding columns (BASELINE.json north
star): exact brute-force cosine top-k as the correctness baseline, and
a random-hyperplane LSH bucketed variant as the scale path.

Design for 100 TB:
- dot products / norms are sequential ``aggregate`` folds over the
  array column — JVM-side, no Python, no shuffle;
- brute force is a broadcast of the (small) query set against the full
  candidate table — one pass, top-k via per-query window;
- LSH replaces the full cross product with a bucket equi-join: each
  vector is hashed to a sign-bit bucket under H fixed hyperplanes; at
  scale the join is shuffle-on-bucket with AQE skew handling, probing
  only same-bucket candidates (multi-probe = OR over bands, like
  MinHash). Hyperplanes are generated from a fixed seed driver-side and
  shipped as literals — the plan stays deterministic and replayable.

One definition per cross-engine value: the embedding width
(``schemas.EMB_DIM``), the ANN query shape and every index
configuration (LSH tables × planes, IVF cells/probes, PQ and IVF-PQ
subspaces, codes and rerank bands, the Lloyd iteration count) are
module constants below, and the operators, their DuckDB oracles
(plans.vector_oracles) and the model store's cache keys
(sources.ann_store) all read them. Oracles share these VALUES, never
the engine's SQL text: the oracle stays an independent derivation.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..schemas import EMB_DIM

#: fixed-point scale for the k-means centroid update: a power of two so
#: ``val * SCALE`` is exact in IEEE double; integer sums are
#: order-independent, which makes the trained centroids — and therefore
#: the whole IVF candidate set — bit-reproducible by a serial oracle
#: (the per-label centroid entries of plans.vector_queries use it too).
KMEANS_SCALE = float(1 << 40)

#: the ANN query shape — part of every top-k query's definition: the
#: ANN_K nearest neighbours of each of the first ANN_QUERIES vec_ids
ANN_K = 5
ANN_QUERIES = 5

#: hyperplane-LSH (n_tables, n_planes): the ANN top-k, the 0.4-threshold
#: dedup and the high-threshold (0.8) dedup configurations — recall
#: math in :func:`lsh_topk` and operators.dedup
LSH_ANN = (8, 3)
LSH_DEDUP = (12, 3)
LSH_HI = (16, 8)
#: embedding near-dup cosine thresholds: the low one every verification
#: fixture and ``dedup_semantic_clusters`` use, the high one of the
#: ``*_hi`` scale paths
DEDUP_COS_LO = 0.4
DEDUP_COS_HI = 0.8
#: IVF coarse quantizer: cells, cells probed per query; KMEANS_ITERS is
#: the Lloyd iteration count of every trainer (IVF, PQ, SemDeDup)
IVF_CLUSTERS = 16
IVF_PROBES = 4
KMEANS_ITERS = 3
#: PQ: subspaces × codes per subspace, rerank band = k × PQ_RERANK
PQ_SUBSPACES = 16
PQ_CODES = 16
PQ_RERANK = 8
#: IVF-PQ: PQ subspaces (PQ_CODES codes each), rerank band factor
IVFPQ_SUBSPACES = 8
IVFPQ_RERANK = 16
#: int8 scalar quantization: rerank band factor
INT8_RERANK = 4

#: Knuth multiplicative-hash constants for the deterministic training
#: sample (see :func:`train_sample_sql`). All-integer arithmetic,
#: so Spark and DuckDB evaluate the predicate identically bit for bit.
TRAIN_HASH_A = 2654435761  # 2^32 / golden ratio, odd
TRAIN_HASH_MOD = 1 << 32
#: ids are reduced mod 2^31 first so the product stays < 2^63 — BIGINT
#: multiplication must not overflow (DuckDB errors, Spark wraps; either
#: would break the bit-equal oracle contract)
TRAIN_HASH_ID_MOD = 1 << 31

#: ``train_sample_denom="auto"`` sizes the k-means training sample so
#: it keeps roughly this many vectors PER CLUSTER: denom =
#: max(1, n // (AUTO_TRAIN_TARGET_PER_CLUSTER * n_clusters)). On a tiny
#: corpus that resolves to denom=1 (full training — a 1/8 sample of 500
#: rows left ~25 vectors for 16 clusters and collapsed recall to 0.68);
#: at 100 TB it converges to a fixed-size training set, so the
#: n_iters+1 training scans cost O(sample), not O(table).
AUTO_TRAIN_TARGET_PER_CLUSTER = 50


def auto_train_denom(n_rows: int, n_clusters: int) -> int:
    """The ``"auto"`` sampling denominator — shared formula, mirrored
    in pure SQL by the DuckDB oracle (plans.vector_oracles.
    ann_ivf_topk_sql computes ``greatest(1, count(*) // T)`` with the
    same integer division), so both engines derive the identical denom
    from the identical table at any scale factor."""
    return max(1, n_rows // (AUTO_TRAIN_TARGET_PER_CLUSTER * n_clusters))


def train_sample_sql(id_col: str, denom: int, floor_ids: int) -> str:
    """The training-sample predicate as ANSI SQL, shared verbatim by
    the Spark plan (via ``F.expr``) and the DuckDB oracle: keep a row
    when the Knuth multiplicative hash of its id lands in the first
    1/``denom`` of the 32-bit range, OR its id is below ``floor_ids``
    (guaranteeing the deterministic k-means init set survives the
    sample at any scale factor). Pure int64 arithmetic — no float, no
    engine-specific hash — so both engines agree exactly.

    Assumes NON-NEGATIVE ids (both engines' ``%`` is truncated
    division, so a negative id hashes negative and always passes — the
    engines still agree, but the rate silently becomes 100%) and that
    the init-survival OR-clause keeps the ``floor_ids`` SMALLEST ids
    only when ids are dense from 0 — exactly the shape of the
    ``vec_id`` key this operator family is defined over."""
    threshold = TRAIN_HASH_MOD // denom
    return (
        f"((({id_col} % {TRAIN_HASH_ID_MOD}) * {TRAIN_HASH_A})"
        f" % {TRAIN_HASH_MOD}) < {threshold}"
        f" OR {id_col} < {floor_ids}"
    )


# Each fold below is defined ONCE, as server-parsed SQL text: Column/
# lambda builders paid ~15 blocking py4j round trips per fold during
# plan BUILD, which dominated driver latency on fold-heavy projections
# (see functions.text). Plans use the text through F.expr/selectExpr.


def _as_double_sql(a: str) -> str:
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product (bit-reproducible in the oracle).

    Kept as a higher-order-function fold deliberately: expanding the
    sum into 64 flat chained adds keeps the same float order but builds
    expression trees thousands of nodes deep, and Catalyst's tree
    transforms + codegen on those measured 4-8× SLOWER end-to-end at
    sf0.1 than the interpreted fold. The fold's interpretation overhead
    is the cheaper side of that trade."""
    return (
        f"aggregate(zip_with({_as_double_sql(a)}, {_as_double_sql(b)}, "
        f"(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def l2_norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({_as_double_sql(a)}, CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x * x))"
    )


def cosine_pre_sql(a: str, b: str, na: str, nb: str) -> str:
    """Cosine with PRE-COMPUTED norms ``na``/``nb`` (from
    :func:`l2_norm_sql`): norms are computed once per VECTOR before a
    join instead of once per PAIR after it, so a near-quadratic
    candidate verify does one fold per pair (the dot) instead of three.
    Measured bench-to-bench at sf0.1 (2M candidate pairs): LSH dedup
    6.6 → 4.5 s, semantic dedup 6.3 → 4.7 s; on the small-candidate ANN
    paths the saving is inside run-to-run noise — it grows with
    candidate volume."""
    return f"{dot_sql(a, b)} / ({na} * {nb})"


def _normed(df: DataFrame, id_alias: str, vec_alias: str, nrm_alias: str) -> DataFrame:
    """(id, vector, L2 norm) of an ``embeddings``-shaped frame under the
    given aliases — the pre-normed side of every cosine join."""
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(vec_alias),
        F.expr(l2_norm_sql("`embedding`")).alias(nrm_alias),
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Rank each query's (query_id, neighbor_id, cosine) rows by cosine,
    ties to the lower neighbor id, and keep ranks ≤ ``k``."""
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = ANN_K,
) -> DataFrame:
    """Exact cosine top-k over ``(vec_id, embedding)`` rows: broadcast
    the query set, score every candidate, rank per query. Returns
    (query_id, neighbor_id, cosine, rank). Deterministic: rank ties
    broken by neighbor id.

    The candidate side is spread (functions.spread): a single small
    parquet file reads as one split, which serialized every
    dot-product fold of the broadcast cross join onto one core; the
    metadata gate makes this a no-op on an already-split corpus."""
    from ..functions.spread import spread_small_scan

    vectors = spread_small_scan(vectors)
    # projections as server-parsed SQL strings (r14): the lambda-fold
    # Column builders cost ~700 py4j round trips per build here
    q = queries.selectExpr(
        "`vec_id` AS query_id",
        "`embedding` AS q_vec",
        f"{l2_norm_sql('`embedding`')} AS q_nrm",
    )
    c = vectors.selectExpr(
        "`vec_id` AS neighbor_id",
        "`embedding` AS c_vec",
        f"{l2_norm_sql('`embedding`')} AS c_nrm",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where("query_id != neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{cosine_pre_sql('q_vec', 'c_vec', 'q_nrm', 'c_nrm')} AS cosine",
        )
    )
    return _top_k(scored, k)


def hyperplanes(dim: int, n_planes: int, seed: int = 20130101) -> list[list[float]]:
    """Fixed-seed random hyperplanes (driver-side, shipped as literals
    so the plan is deterministic)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_tables(n_tables: int, n_planes: int) -> list[list[list[float]]]:
    """The hyperplanes of every LSH table (seed 20130101 + 7919·t for
    table t) — shared by the operators and their oracles."""
    return [
        hyperplanes(EMB_DIM, n_planes, seed=20130101 + 7919 * t)
        for t in range(n_tables)
    ]


def _buckets_sql(tables: list[list[list[float]]]) -> str:
    """The whole (table_idx, bucket) array as one SQL expression string
    — per table, the sign bits of the ascending-order fold projections
    onto each hyperplane, bit ``i`` for plane ``i`` (``repr``
    round-trips every float64 exactly), parsed server-side in one call
    (built plane-by-plane through the Column API it cost one py4j round
    trip per literal: 18.7 s of pure DRIVER time for the 16×8×64 config
    before any execution). The unrolled shape is
    deliberate: it stays inside WholeStageCodegen, where the
    higher-order-function alternative (planes as a nested array
    literal) executes interpreted and measured ~2× slower."""
    v = "CAST(`embedding` AS ARRAY<DOUBLE>)"
    structs = []
    for t, planes in enumerate(tables):
        terms = []
        for i, p in enumerate(planes):
            arr = "array(" + ",".join(repr(x) + "D" for x in p) + ")"
            proj = (
                f"aggregate(zip_with({v}, {arr}, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i}L ELSE 0L END)")
        bucket = "CAST(0 AS LONG) + " + " + ".join(terms)
        structs.append(f"named_struct('table_idx', {t}, 'bucket', {bucket})")
    return "array(" + ",".join(structs) + ")"


def _bucket_keys(
    df: DataFrame, id_alias: str, tables: list[list[list[float]]]
) -> DataFrame:
    """(id, table_idx, bucket) — one row per hash table.

    Deliberately NARROW: the vector itself is dropped after hashing.
    Candidate generation then shuffles/dedupes id pairs only; vectors
    are re-attached exactly once by an id equi-join before scoring. The
    previous shape carried the embedding array through the T-way
    explode, the bucket join, and the distinct — at a weak threshold
    (coarse buckets) that multiplied the shuffled bytes by
    ~2·dim·(candidates/vector) and was measured 3-4× slower end-to-end
    at sf0.1 despite identical results."""
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.explode(F.expr(_buckets_sql(tables))).alias("tb"),
    ).select(
        id_alias,
        F.col("tb.table_idx").alias("table_idx"),
        F.col("tb.bucket").alias("bucket"),
    )


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = ANN_K) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH — a
    candidate is scored iff it shares a bucket with the query in ANY of
    ``n_tables`` independent tables (banding, like MinHash LSH). Trades
    recall for a cross-product → equi-join reduction (the 100 TB path;
    recall tunes via n_tables × n_planes).

    :data:`LSH_ANN` (8×3) is sized for weakly-clustered data like the test
    corpus (top-5 neighbors at cosine ≈ 0.3 ⇒ per-plane agreement
    ≈ 0.6): recall ≈ 1-(1-0.6³)⁸ ≈ 0.86. On real embedding corpora
    where near-dups sit at cosine ≥ 0.8, fewer tables with more planes
    (e.g. 4×8) give the same recall at a far lower candidate rate."""
    tables = lsh_tables(*LSH_ANN)
    q = _bucket_keys(queries, "query_id", tables)
    c = _bucket_keys(vectors, "neighbor_id", tables)
    cand = (
        c.join(F.broadcast(q), ["table_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = _normed(queries, "query_id", "q_vec", "q_nrm")
    cv = _normed(vectors, "neighbor_id", "c_vec", "c_nrm")
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(cosine_pre_sql("q_vec", "c_vec", "q_nrm", "c_nrm")).alias("cosine"),
        )
    )
    return _top_k(scored, k)


# --- int8 scalar-quantized ANN: the IO-reduction scale path ---

#: guards the all-zero vector (scale would be 0 → NaN codes); shared
#: with the oracle (plans.vector_oracles._int8_topk_prep_cte)
INT8_EPS = 1e-30


def _int8_prep(df: DataFrame, prefix: str, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector scalar quantization: codes = floor(x / scale) with
    scale = greatest(max |x|, eps) / 127 — floor, never round():
    round()'s half-way ties split Spark's HALF_UP from DuckDB's
    HALF_EVEN. max |x| is a sequential fold (greatest is associative,
    but the fold ORDER still mirrors the oracle's list_reduce exactly).
    Emits ({prefix}_id, {prefix}_q, {prefix}_scale, {prefix}_nrm) — the
    NARROW quantized form; full vectors re-attach by id only for the
    rerank band."""
    v = f"`{vec_col}`"
    maxabs = (
        f"aggregate({_as_double_sql(v)}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> greatest(acc, abs(x)))"
    )
    scaled = df.selectExpr(
        f"`{id_col}` AS {prefix}_id",
        f"{v} AS {prefix}_vec",
        f"greatest({maxabs}, {_sdlit(INT8_EPS)}) / {_sdlit(127.0)}"
        f" AS {prefix}_scale",
        f"{l2_norm_sql(v)} AS {prefix}_nrm",
    )
    return scaled.selectExpr(
        f"{prefix}_id",
        f"transform({_as_double_sql(f'{prefix}_vec')},"
        f" x -> CAST(floor(x / {prefix}_scale) AS BIGINT)) AS {prefix}_q",
        f"{prefix}_scale",
        f"{prefix}_nrm",
    )


def int8_topk(vectors: DataFrame, queries: DataFrame, k: int = ANN_K) -> DataFrame:
    """ANN via int8 scalar quantization + exact rerank (the SQ8
    pattern): score every candidate with an exact int64 dot product
    over per-vector-scaled int8 codes (4× smaller than float32 — at
    100 TB the quantized table is what the scan reads, cutting IO and
    shuffle bytes 4×), keep the top ``k * INT8_RERANK`` per query by
    approximate score, then rerank that band with the exact cosine on
    the full vectors (re-attached by id — the wide arrays never travel
    with the full candidate set).

    Deterministic end to end: floor-based codes, integer dot products
    (order-independent), fold-form rescale — so the whole pipeline,
    including the approximate band selection, is bit-reproducible by
    the serial DuckDB oracle (plans.vector_oracles.ann_int8_topk_sql).

    Returns (query_id, neighbor_id, cosine, rank ≤ k) with EXACT
    cosines; only the ranking beyond the band is approximate."""
    q = _int8_prep(queries, "q", "vec_id", "embedding")
    c = _int8_prep(vectors, "c", "vec_id", "embedding")
    idot = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (
                idot.cast("double") * F.col("q_scale") * F.col("c_scale")
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("ascore"),
        )
    )
    return _exact_rerank_topk(approx, vectors, queries, k, INT8_RERANK)


# --- IVF (inverted-file) ANN: the second scale path ---


def kmeans_centroids(
    vectors: DataFrame,
    n_clusters: int = IVF_CLUSTERS,
    n_iters: int = KMEANS_ITERS,
    train_sample_denom: int | str | None = None,
) -> list[list[float]]:
    """Deterministic mini k-means for IVF coarse quantization, run as
    iterative DataFrame jobs (Lloyd's algorithm):

    - init: the vectors with the ``n_clusters`` smallest ids (fixed,
      seedless — deterministic and replayable);
    - assign: broadcast the centroid list as literals, pick argmin
      squared-L2 per row (JVM-side expression, no Python);
    - update: per-cluster dimension-wise means via posexplode +
      grouped fixed-point integer sums — one shuffle per iteration
      carrying n_clusters × dim partial sums, never the vectors
      themselves. Integer sums (not float avg) make the means
      independent of partial-aggregation order, so the training run is
      bit-reproducible by a serial re-derivation (the DuckDB oracle for
      ann_ivf_topk unrolls these exact iterations in SQL).

    Only the centroid list (n_clusters × dim floats) ever reaches the
    driver.

    ``train_sample_denom=K`` is the 100 TB lever: training scans a
    deterministic ~1/K hash sample of the table
    (:func:`train_sample_sql` — Knuth multiplicative hash of the id,
    OR id < n_clusters so the init set always survives) instead of the
    full table, shrinking the n_iters+1 training scans by ~K× while the
    final ASSIGNMENT still covers every vector. The predicate is pure
    integer SQL, so the sampled training run stays bit-reproducible by
    the serial oracle. ``None`` trains on everything (tiny tables).
    ``"auto"`` derives K from one count() so the sample keeps
    ~:data:`AUTO_TRAIN_TARGET_PER_CLUSTER` vectors per cluster
    (:func:`auto_train_denom`) — full training on small corpora, a
    bounded sample at scale; the one count scan amortizes against the
    n_iters+1 training scans it shrinks."""
    if train_sample_denom == "auto":
        train_sample_denom = auto_train_denom(vectors.count(), n_clusters)
    train = vectors
    if train_sample_denom is not None and train_sample_denom > 1:
        train = vectors.filter(
            F.expr(train_sample_sql("vec_id", train_sample_denom, n_clusters))
        )
    init = (
        train.orderBy("vec_id")
        .limit(n_clusters)
        .select("embedding")
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]
    for _ in range(n_iters):
        assigned = assign_to_centroid(train, centroids)
        new = (
            assigned.select("cluster_id", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("v").cast("double") * F.lit(KMEANS_SCALE)).cast(
                        "long"
                    )
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cluster: dict[int, list[float]] = {}
        for r in new:
            by_cluster.setdefault(r["cluster_id"], [0.0] * EMB_DIM)[r["pos"]] = (
                float(r["s"]) / KMEANS_SCALE / float(r["n"])
            )
        # empty clusters keep their previous centroid
        centroids = [
            by_cluster.get(i, centroids[i]) for i in range(n_clusters)
        ]
    return centroids


#: centroid count at which assignment dispatches to the Arrow kernel:
#: the generated argmin expression is O(k·dim) literals — ideal up to
#: the oracle-gated k=16..32 configs, but at corpus-adaptive k (the
#: SemDeDup scale fix: k ~ n/125) the expression outgrows codegen
#: (k=160 measured 21.6 s on 20k rows where the BLAS form takes
#: milliseconds) and at k≥1000 the plan itself stops compiling. Every
#: parity-gated path uses k ≤ 32, so the SQL form remains the
#: bit-exact oracle twin and the Arrow kernel serves only the
#: adaptive/large-k branch.
ARROW_ASSIGN_MIN_K = 64


def assign_to_centroid(
    vectors: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Add ``cluster_id`` = argmin squared-L2 distance of ``embedding``
    to the centroid literals. Pure expression: per row, a fold over the
    (small) centroid array — no join, no shuffle. Ties resolve to the lowest
    centroid index (keep-first-strict-min), matching the oracle's
    ORDER BY (d, cid).

    argmin as array_min over (d, cid) structs: struct ordering is
    lexicographic, so the minimum is (lowest d, then lowest cid), with
    each distance evaluated ONCE (the n_iters+1 full-table assignment
    scans are where IVF spends its time at scale). Emitted as one
    server-parsed SQL string (:func:`_argmin_code_sql`, whole vector =
    one "subspace") — centroid-literal trees through the Column API
    cost py4j/Catalyst driver time on every training iteration.

    Dispatch: k ≥ :data:`ARROW_ASSIGN_MIN_K` routes to
    :func:`assign_to_centroid_arrow` — the literal expression does not
    survive corpus-adaptive cell counts (see the constant's note)."""
    if len(centroids) >= ARROW_ASSIGN_MIN_K:
        return assign_to_centroid_arrow(vectors, centroids)
    dvec = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return vectors.withColumn(
        "cluster_id", F.expr(_argmin_code_sql(dvec, centroids))
    )


def assign_to_centroid_arrow(
    vectors: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Large-k assignment the way a native engine does it: per Arrow
    batch, ONE float64 BLAS matmul scores all centroids
    (d = ‖x‖² − 2·X@Cᵀ + ‖c‖², never materializing the (n, k, dim)
    tensor), numpy argmin takes the first minimum (the same
    keep-first-strict-min tie rule as the SQL form). Deterministic:
    per-row arithmetic is independent of batch slicing. NOT bit-sworn
    to the SQL expression on near-ties (different summation order —
    which is why every oracle-gated config stays below the dispatch
    threshold); used by the corpus-adaptive branches where k grows
    with the data. Chunked at 4 096 rows so the distance matrix stays
    ≤ 4096×k doubles."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    out_schema = StructType(
        list(vectors.schema.fields) + [StructField("cluster_id", IntegerType())]
    )

    def run(batches):
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = np.empty(len(X), dtype=np.int32)
            for lo in range(0, len(X), 4096):
                xb = X[lo : lo + 4096]
                d = xb @ C.T
                d *= -2.0
                d += (xb * xb).sum(axis=1)[:, None]
                d += c_sq[None, :]
                ids[lo : lo + len(xb)] = np.argmin(d, axis=1)
            out = pdf.copy()
            out["cluster_id"] = ids
            yield out

    return vectors.mapInPandas(run, schema=out_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = ANN_K,
    n_clusters: int = IVF_CLUSTERS,
    n_probes: int = IVF_PROBES,
    train_sample_denom: int | str | None = "auto",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: train coarse centroids, partition candidates by nearest
    centroid (the inverted file), then for each query probe only the
    ``n_probes`` nearest cells — the candidate set shrinks by
    ~n_clusters/n_probes vs brute force while recall stays high for
    clustered data. Join is an equi-join on cluster_id (shuffle on a
    16-value key locally; at scale the inverted file is the storage
    partitioning, so probes prune files instead).

    Training defaults to ``"auto"`` sampling (see
    :func:`kmeans_centroids`): a deterministic hash sample sized to
    keep ~50 vectors per cluster — full training on small corpora
    (recall holds), a bounded sample at 100 TB where the n_iters+1
    training scans would otherwise each touch the whole table;
    assignment (one scan) still covers every vector. Pass ``None`` to
    always train full, or an explicit int denom to pin the rate.

    ``centroids`` (pretrained) skips training entirely — the
    train-once/serve-many path: a deployment trains offline
    (sources.ann_store.trained_ivf_centroids persists/reads the
    artifact) and every query pays only the assignment scan. Because
    training is bit-deterministic and parquet DOUBLE is exact, the
    pretrained plan is bit-identical to the self-training one.

    Returns (query_id, neighbor_id, cosine, rank ≤ k)."""
    if centroids is None:
        centroids = kmeans_centroids(
            vectors, n_clusters=n_clusters, train_sample_denom=train_sample_denom
        )
    cands = assign_to_centroid(vectors, centroids).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.expr(l2_norm_sql("`embedding`")).alias("c_nrm"),
        "cluster_id",
    )
    probed = (
        assign_probes(queries, centroids, n_probes)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            F.expr(l2_norm_sql("`embedding`")).alias("q_nrm"),
            F.explode("probe_ids").alias("cluster_id"),
        )
    )
    scored = (
        cands.join(F.broadcast(probed), "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(cosine_pre_sql("q_vec", "c_vec", "q_nrm", "c_nrm")).alias("cosine"),
        )
    )
    return _top_k(scored, k)


def assign_probes(
    queries: DataFrame, centroids: list[list[float]], n_probes: int
) -> DataFrame:
    """Add ``probe_ids``: the n_probes nearest centroid ids per query
    (sorted centroid-distance structs, sliced) — the (d, cid) struct
    array as one server-parsed SQL string (see :func:`_argmin_code_sql`;
    array_sort on structs is lexicographic (d, cid), identical to the
    previous Column-API form)."""
    dvec = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return queries.withColumn(
        "probe_ids",
        F.expr(
            f"transform(slice(array_sort({_dist_structs_sql(dvec, centroids)}),"
            f" 1, {n_probes}), s -> s.cid)"
        ),
    )


# --- PQ (product quantization) ANN: the asymmetric-distance scale path ---


def pq_codebooks(
    vectors: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    train_sample_denom: int | str | None = None,
) -> list[list[list[float]]]:
    """Train one deterministic codebook per subspace: split each vector
    into ``n_subspaces`` contiguous ``EMB_DIM / n_subspaces``-dim blocks and
    run the fixed-point k-means of :func:`kmeans_centroids` on each
    block — the PQ trainer of Jégou et al.'s product quantization.
    Everything that made IVF training bit-reproducible carries over per
    subspace (smallest-id init, argmin assignment, integer-sum update),
    so the DuckDB oracle re-derives all codebooks exactly
    (plans.vector_oracles.ann_pq_topk_sql unrolls one k-means CTE chain
    per subspace over the sliced vectors).

    All subspaces train TOGETHER, one scan per Lloyd iteration: a
    single job computes every subspace's argmin assignment and the
    (subspace, code, dimension) integer partial sums — per-row work is
    identical to n_subspaces separate trainers, but the driver runs
    KMEANS_ITERS jobs instead of n_subspaces × KMEANS_ITERS (measured: the
    separate-loops form spent 26 s at sf0.01 on ~64 job round trips;
    this form runs 4). The per-(j, cid, pos) int64 sums are the same
    numbers in the same fixed-point arithmetic, so the codebooks are
    bit-identical to the per-subspace derivation the oracle unrolls.

    ``train_sample_denom`` is resolved ONCE here (``"auto"`` from a
    single count) and shared by every subspace — one training-sample
    id set, n_subspaces codebooks. Only the codebooks
    (n_subspaces × n_codes × sub floats) reach the driver."""
    sub = EMB_DIM // n_subspaces
    if train_sample_denom == "auto":
        train_sample_denom = auto_train_denom(vectors.count(), n_codes)
    train = vectors
    if train_sample_denom is not None and train_sample_denom > 1:
        train = vectors.filter(
            F.expr(train_sample_sql("vec_id", train_sample_denom, n_codes))
        )
    # init: the n_codes smallest ids, sliced driver-side (float→double
    # of the same stored values the sliced-column path would cast)
    init = train.orderBy("vec_id").limit(n_codes).select("embedding").collect()
    books: list[list[list[float]]] = [
        [[float(x) for x in r[0][j * sub : (j + 1) * sub]] for r in init]
        for j in range(n_subspaces)
    ]
    for _ in range(KMEANS_ITERS):
        per_sub = []
        for j in range(n_subspaces):
            sv = _svec_sql(j * sub + 1, sub)
            per_sub.append(
                f"named_struct('j', {j},"
                f" 'cid', {_argmin_code_sql(sv, books[j])},"
                f" 'sv', {sv})"
            )
        new = (
            train.select(F.explode(F.expr(f"array({', '.join(per_sub)})")).alias("s"))
            .select("s.j", "s.cid", F.posexplode("s.sv").alias("pos", "v"))
            .groupBy("j", "cid", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("v") * F.lit(KMEANS_SCALE)).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_jc: dict[tuple[int, int], list[float]] = {}
        for r in new:
            by_jc.setdefault((r["j"], r["cid"]), [0.0] * sub)[r["pos"]] = (
                float(r["s"]) / KMEANS_SCALE / float(r["n"])
            )
        # empty codes keep their previous centroid, per subspace
        books = [
            [by_jc.get((j, c), books[j][c]) for c in range(n_codes)]
            for j in range(n_subspaces)
        ]
    return books


def _sdlit(x: float) -> str:
    """Exact Spark-SQL double literal: ``<repr>D`` — the D suffix makes
    the lexer hand repr straight to Java's correctly-rounded double
    parse (verified equal to CAST('<repr>' AS DOUBLE) over random
    magnitudes), without a DECIMAL hop and at ~2.5× less SQL text than
    the CAST-string form (these literals appear n_subspaces × n_codes
    × dim times per generated expression, so parse size is plan-build
    latency)."""
    return f"{x!r}D"


def _svec_sql(lo: int, n: int) -> str:
    """SQL text for the ``n``-element double subvector of ``embedding``
    at 1-based offset ``lo``."""
    return f"slice({_as_double_sql('embedding')}, {lo}, {n})"


def _cents_sql(book: list[list[float]]) -> str:
    """The codebook/centroid list as a SQL array-of-(cid, cv)-structs
    literal, repr-exact doubles."""
    return "array({})".format(
        ", ".join(
            "named_struct('cid', {i}, 'cv', array({vs}))".format(
                i=i, vs=", ".join(_sdlit(x) for x in c)
            )
            for i, c in enumerate(book)
        )
    )


def _dist_structs_sql(svec: str, book: list[list[float]]) -> str:
    """(d, cid) struct array: squared-L2 fold per centroid, in cid
    order — the shared core of argmin assignment and probe ranking."""
    return (
        f"transform({_cents_sql(book)},"
        f" c -> named_struct('d', aggregate(zip_with({svec}, c.cv,"
        " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + x), 'cid', c.cid))"
    )


def _argmin_code_sql(svec: str, book: list[list[float]]) -> str:
    """Argmin-distance code for one subvector against one codebook —
    the array_min-over-(d, cid)-structs expression of
    :func:`assign_to_centroid` (lowest distance, ties to lowest cid),
    emitted as ONE server-parsed SQL string: the PQ surfaces evaluate
    it n_subspaces × n_codes times per plan, and building those trees
    through the Column API costs seconds of py4j round trips and
    Catalyst tree churn before any task runs (the lsh _buckets_sql
    lesson — measured 13 s → sub-second plan build at sf0.001)."""
    return f"array_min({_dist_structs_sql(svec, book)}).cid"


def pq_encode(vectors: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode every vector as ``n_subspaces`` small integer codes —
    (id, code_0..code_{m-1}), the NARROW representation that travels
    through the candidate join. At 64 dims / 16 subspaces / 16 codes
    the encoded table is ~16 small ints a row against 256 bytes of
    float32 (25.9× smaller on disk, measured by bench.py's pq_io):
    the 100 TB candidate scan reads codes, never embeddings. One
    projection, no shuffle, no Python."""
    return vectors.select(F.col("vec_id"), *_code_cols(codebooks))


def _code_cols(codebooks: list[list[list[float]]]) -> list[Column]:
    """``code_j`` = the argmin code of subvector j against codebook j."""
    sub = len(codebooks[0][0])
    return [
        F.expr(_argmin_code_sql(_svec_sql(j * sub + 1, sub), book)).alias(f"code_{j}")
        for j, book in enumerate(codebooks)
    ]


def _adc_query_cols(books: list[list[list[float]]]) -> list[Column]:
    """Per-subspace ADC lookup-table columns for the query side:
    ``dt_j`` = dot of the query subvector with every codebook entry (in
    code order), ``rn_j`` = reconstructed-norm² per entry — both as
    server-parsed SQL strings (see :func:`_argmin_code_sql`). Shared by
    :func:`pq_topk` and :func:`ivfpq_topk`.

    MEASURED DEAD END (r9, do not redo): shipping these tables as a
    one-row broadcast codebook relation (createDataFrame + crossJoin,
    dt built by transform over the bk column) was implemented, parity
    stayed green, but a same-session quiet-box A/B showed plan build
    UNCHANGED (~1.0 s either way — the literal parse was never the
    cost) and execution ~0.4 s SLOWER (pq exec 0.6–0.9 s literal vs
    1.0–1.2 s broadcast-row; the literal arrays constant-fold into
    codegen, a column reference cannot). Reverted; the literals stay."""
    sub = len(books[0][0])
    cols: list[Column] = []
    for j, book in enumerate(books):
        bl = "array({})".format(
            ", ".join(
                "array({})".format(", ".join(_sdlit(x) for x in c))
                for c in book
            )
        )
        qsub = _svec_sql(j * sub + 1, sub)
        cols.append(
            F.expr(
                f"transform({bl}, cv -> aggregate(zip_with({qsub}, cv,"
                " (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
                " (acc, x) -> acc + x))"
            ).alias(f"dt_{j}")
        )
        # rn is query-INDEPENDENT: fold each entry's Σx² here with the
        # same left-to-right IEEE order the in-plan aggregate used —
        # bit-identical doubles, and the plan carries n_codes scalar
        # literals per subspace instead of re-embedding the whole
        # codebook a second time (halves the generated SQL text)
        rn_lits = ", ".join(
            _sdlit(_sumsq_serial(c)) for c in book
        )
        cols.append(F.expr(f"array({rn_lits})").alias(f"rn_{j}"))
    return cols


def _sumsq_serial(cv: list[float]) -> float:
    """Σx² as the identical sequential fold the SQL
    ``aggregate(cv, 0.0D, (acc, x) -> acc + x*x)`` performs — IEEE
    double ops are deterministic, so this Python loop reproduces the
    in-plan value bit for bit (asserted by the ANN parity gates)."""
    acc = 0.0
    for x in cv:
        acc += float(x) * float(x)
    return acc


def _adc_score(n_subspaces: int) -> Column:
    """ADC approximate cosine from the lookup tables: n_subspaces array
    lookups + adds for the dot, same for the reconstructed norm² — no
    per-pair fold over the full dimensions (the whole point of PQ
    scoring at 100 TB). Fixed subspace evaluation order keeps the
    float sum bit-reproducible by the serial oracle."""
    adot = F.element_at(F.col("dt_0"), F.col("code_0") + 1)
    rsum = F.element_at(F.col("rn_0"), F.col("code_0") + 1)
    for j in range(1, n_subspaces):
        adot = adot + F.element_at(F.col(f"dt_{j}"), F.col(f"code_{j}") + 1)
        rsum = rsum + F.element_at(F.col(f"rn_{j}"), F.col(f"code_{j}") + 1)
    return adot / (F.col("q_nrm") * F.sqrt(rsum))


def _exact_rerank_topk(
    approx: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    rerank_factor: int,
) -> DataFrame:
    """Keep the top ``k * rerank_factor`` band of (query_id, neighbor_id,
    ascore) rows per query by approximate score (ties to the lower
    neighbor id), rescore that band with the exact cosine on full
    vectors re-attached by id, rank to top ``k`` — the shared tail of
    every quantized ANN path (int8 / PQ / IVF-PQ): the wide arrays only
    ever join against the O(k·rerank) band, never the full candidate
    set."""
    wa = W.partitionBy("query_id").orderBy(F.desc("ascore"), "neighbor_id")
    band = (
        approx.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    qv = _normed(queries, "query_id", "q_vec", "qr_nrm")
    cv = _normed(vectors, "neighbor_id", "c_vec", "cr_nrm")
    rescored = (
        band.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                cosine_pre_sql("q_vec", "c_vec", "qr_nrm", "cr_nrm")
            ).alias("cosine"),
        )
    )
    return _top_k(rescored, k)


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = ANN_K,
    train_sample_denom: int | str | None = "auto",
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ANN via product quantization with asymmetric distance
    computation (ADC) + exact rerank — the fourth scale path next to
    LSH buckets, IVF probing, and int8 scalar quantization:

    - TRAIN: one codebook per subspace (:func:`pq_codebooks`);
    - ENCODE: each candidate becomes ``PQ_SUBSPACES`` integer codes
      (:func:`pq_encode`) — the only per-candidate state the scoring
      join touches;
    - SCORE (ADC): per query and subspace, precompute the dot product
      of the query subvector with every codebook entry (an
      ``PQ_CODES``-slot lookup table, built once per query on the
      broadcast side); a candidate's approximate dot is then
      ``PQ_SUBSPACES`` array lookups + adds — no per-pair fold over the
      64 dims at all, which is the whole point of ADC at 100 TB;
    - RERANK: the top ``k * PQ_RERANK`` band per approximate
      cosine (reconstructed-norm denominator, same lookup trick) is
      rescored with the exact cosine on full vectors re-attached by id.

    Deterministic end to end — codebooks are fixed-point k-means,
    lookup tables and the 4-term sums evaluate in fixed subspace order
    — so even the approximate band is value-hash reproducible by the
    serial DuckDB oracle (plans.vector_oracles.ann_pq_topk_sql).

    ``codebooks`` (pretrained) skips TRAIN entirely — the
    train-once/serve-many path (sources.ann_store.trained_pq_codebooks
    persists/reads the artifact): round 7 profiled training at 5.4 s of
    this query's 5.8 s, so serving from persisted books is the 100 TB
    deployment shape AND the sf0.1 win. ``codes`` (the pre-encoded
    candidate table from sources.ann_store.trained_pq_codes) skips
    ENCODE as well — the serve plan then reads the narrow code parquet
    instead of carrying 16 argmin-over-codebook expression trees, which
    dominated warm-serve compile time at sf0.1. Bit-identical either
    way (deterministic trainer/encoder, exact DOUBLE round-trip).

    Returns (query_id, neighbor_id, cosine, rank ≤ k) with EXACT
    cosines; only the ranking beyond the band is approximate."""
    books = codebooks if codebooks is not None else pq_codebooks(
        vectors, train_sample_denom=train_sample_denom
    )
    if codes is None:
        codes = pq_encode(vectors, books)

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.expr(l2_norm_sql("`embedding`")).alias("q_nrm"),
        *_adc_query_cols(books),
    )
    approx = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_score(len(books)).alias("ascore"),
        )
    )
    return _exact_rerank_topk(approx, vectors, queries, k, PQ_RERANK)


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = ANN_K,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the composed 100 TB vector-index layout (the shape
    of a Faiss ``IVFx,PQy`` index, here with codebooks trained on raw
    vectors rather than residuals so every stage stays independently
    oracle-verifiable):

    - IVF coarse quantizer (:func:`kmeans_centroids`) partitions
      candidates into cells; each query probes only its ``IVF_PROBES``
      nearest — at 100 TB the cell id is the storage partition key, so
      probing prunes FILES before any row is read;
    - within the probed cells, candidates are scored by PQ asymmetric
      distance (:func:`_adc_score`): ``IVFPQ_SUBSPACES`` array lookups per
      pair against per-query tables, over an encoded table ~16× narrower
      than the float32 vectors — the probe-pruned scan reads small
      integer codes, never embeddings;
    - the top ``k * IVFPQ_RERANK`` band per query is reranked with the
      exact cosine on full vectors re-attached by id
      (:func:`_exact_rerank_topk`).

    The two prunings compose multiplicatively: the scan reads
    ~(IVF_PROBES/IVF_CLUSTERS) of the corpus at ~1/16 the bytes per row.
    One candidate scan produces (id, cluster_id, code_0..m-1) — the
    coarse argmin and all subspace encodings are projections of the
    same row, so IVF and PQ add no extra pass over the table.

    Deterministic end to end (fixed-point k-means for both quantizers,
    fixed-order ADC sums), so even the approximate band is value-hash
    reproducible by the serial DuckDB oracle
    (plans.vector_oracles.ann_ivfpq_topk_sql). Both trainers sample
    with ``"auto"``; with ``IVF_CLUSTERS == PQ_CODES`` they derive the
    identical denominator.

    ``centroids``/``codebooks`` (pretrained) skip the corresponding
    trainer — see :func:`ivf_topk`/:func:`pq_topk`; sources.ann_store
    persists/reads both artifacts for the serve path. ``index`` (the
    persisted (id, cluster_id, codes) table from
    sources.ann_store.trained_ivfpq_index) skips the candidate-side
    assign+encode scan entirely — the probed-cell join then reads the
    narrow index parquet, which is what a Faiss IVF,PQ index stores.

    Returns (query_id, neighbor_id, cosine, rank ≤ k) with EXACT
    cosines; only the ranking beyond the band is approximate."""
    if centroids is None:
        centroids = kmeans_centroids(vectors, train_sample_denom="auto")
    books = codebooks if codebooks is not None else pq_codebooks(
        vectors, n_subspaces=IVFPQ_SUBSPACES, train_sample_denom="auto"
    )
    if index is not None:
        codes = index.withColumnRenamed("vec_id", "neighbor_id")
    else:
        # candidate side: ONE scan → (neighbor_id, cluster_id, codes…)
        codes = assign_to_centroid(vectors, centroids).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster_id"),
            *_code_cols(books),
        )
    # query side: probes + ADC lookup tables in one projection, then
    # one row per (query, probed cell) — broadcast to the cell join
    q = assign_probes(queries, centroids, IVF_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.expr(l2_norm_sql("`embedding`")).alias("q_nrm"),
        *_adc_query_cols(books),
        F.explode("probe_ids").alias("cluster_id"),
    )
    approx = (
        codes.join(F.broadcast(q), "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_score(len(books)).alias("ascore"),
        )
    )
    return _exact_rerank_topk(approx, vectors, queries, k, IVFPQ_RERANK)
