"""Generated DuckDB oracle SQL for the LSH / IVF vector scale paths.

The scale-path operators (hyperplane-LSH dedup, LSH ANN, IVF ANN) were
previously rows-only checked because their pruning structure lives in
the Spark plan. But every source of randomness in those operators is a
fixed-seed driver-side constant (operators.similarity.hyperplanes) or a
deterministic derivation from the data (the fixed-point k-means in
operators.similarity.kmeans_centroids), so the full candidate
generation is re-derivable in serial SQL — the same technique as the
MinHash oracle in plans.text_queries, extended to doubles:

- float literals are emitted as ``CAST('<repr>' AS DOUBLE)``: DuckDB
  parses bare decimal literals as DECIMAL and the decimal→double hop
  double-rounds (measured: ~1/200 literals off by 1 ulp), while
  string→double is correctly rounded and repr round-trips exactly;
- every dot product / distance is the same sequential fold as the
  Spark side (list_reduce ≡ F.aggregate), so doubles are bit-identical
  and sign/argmin/threshold decisions agree exactly;
- the k-means update uses order-independent fixed-point integer sums
  (operators.similarity.KMEANS_SCALE), so the serial SQL derivation
  and Spark's parallel aggregation produce the same centroids bit for
  bit, and the 3 Lloyd iterations unroll into a CTE chain.

Each cross-engine value is defined once: the embedding width is
``schemas.EMB_DIM``, and the ANN query shape (ANN_K, ANN_QUERIES) and
every index configuration (LSH tables × planes, IVF cells/probes, PQ and
IVF-PQ subspaces/codes/rerank bands, KMEANS_ITERS) are the constants of
operators.similarity, which the functions below read instead of taking
them as parameters. Oracles share those values with the engine, never
its SQL text: every string here is DuckDB's own derivation.
"""

from __future__ import annotations

import functools
import re

from ..functions.sqltext import sql_double_lit
from ..operators.similarity import (
    ANN_K,
    ANN_QUERIES,
    DEDUP_COS_HI,
    DEDUP_COS_LO,
    INT8_EPS,
    INT8_RERANK,
    IVF_CLUSTERS,
    IVF_PROBES,
    IVFPQ_RERANK,
    IVFPQ_SUBSPACES,
    KMEANS_ITERS,
    KMEANS_SCALE,
    LSH_ANN,
    LSH_DEDUP,
    LSH_HI,
    PQ_CODES,
    PQ_RERANK,
    PQ_SUBSPACES,
    lsh_tables,
)
from ..schemas import EMB_DIM


def _materialized(fn):
    """Post-process a generated oracle: hint every CTE ``AS
    MATERIALIZED``. These chains (unrolled k-means, PQ subspace
    codebooks) reference each CTE several times downstream; DuckDB
    re-inlines plain CTEs per reference, compounding the recompute per
    unrolled iteration (measured ann_pq_topk 13.7 s -> 2.3 s at
    sf0.01, bit-identical rows). DuckDB-only text — Spark never parses
    oracles."""

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        return re.sub(r"\n(\w+) AS \(", r"\n\1 AS MATERIALIZED (", fn(*a, **kw))

    return wrapped


#: sequential-fold cosine pieces shared with plans.vector_queries and
#: plans.text_queries
DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    f" list_transform(range(1, {EMB_DIM + 1}),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),"
    " (acc, x) -> acc + x)"
)

#: the full-vector double view every k-means oracle starts from
_E_CTE = (
    "WITH e AS (SELECT vec_id,"
    " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    " FROM embeddings),"
)
NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform({v}, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))),"
    " (acc, x) -> acc + x))"
)


def _cosine(a: str, b: str) -> str:
    return (
        f"{DOT.format(a=a, b=b)}"
        f" / ({NORM.format(v=a)} * {NORM.format(v=b)})"
    )


def _plane_proj(v: str, plane: list[float]) -> str:
    """Sequential-fold projection of ``v`` onto a hyperplane literal —
    mirrors operators.similarity._buckets_sql's per-plane aggregate."""
    lst = "[" + ", ".join(sql_double_lit(x) for x in plane) + "]"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {EMB_DIM + 1}),"
        f" i -> CAST({v}[i] AS DOUBLE) * ({lst})[i])),"
        " (acc, x) -> acc + x)"
    )


def _bucket(v: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id — mirrors _buckets_sql's bit accumulation."""
    bits = [
        f"CASE WHEN {_plane_proj(v, p)} >= 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _bucket_keys_cte(config: tuple[int, int], where: str = "") -> str:
    """(vec_id, t, bucket) — one SELECT per hash table of the
    (n_tables, n_planes) ``config``, the Spark operators' hyperplanes
    (operators.similarity.lsh_tables)."""
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS t, {_bucket('embedding', planes)} AS bucket"
        f" FROM embeddings{where}"
        for t, planes in enumerate(lsh_tables(*config))
    )


#: explicit row bound on the 0.4-threshold LSH VERIFICATION twin
#: (dedup_embedding_cosine_lsh): at cosine ≥ 0.4 the per-plane
#: agreement (0.63 vs 0.5 random) makes LSH pruning mathematically
#: impossible, so the candidate join is inherently near-quadratic —
#: measured exponent 1.90 at 10× (SCALING_r11.json). The query stays
#: in the catalog as a bounded ground-truth fixture (every parity
#: corpus has ≤ 2 000 vectors, far under the bound, so parity values
#: are unchanged); the UNBOUNDED scale paths for the same semantics
#: are dedup_semantic_clusters (adaptive cells, measured exp 0.84 at
#: the identical 0.4 threshold) and vector_dedup_cosine_lsh_hi
#: (threshold 0.8, measured exp 0.89).
EMB_LSH_VERIFY_BOUND = 20_000


@_materialized
def dedup_embedding_cosine_lsh_sql() -> str:
    """Oracle for operators.dedup.embedding_cosine_duplicates_lsh at
    threshold 0.4 over the bounded ``vec_id < EMB_LSH_VERIFY_BOUND``
    slice."""
    cos = _cosine("va", "vb")
    where = f" WHERE vec_id < {EMB_LSH_VERIFY_BOUND}"
    return f"""
WITH bk AS (
{_bucket_keys_cte(LSH_DEDUP, where)}
),
cand AS (
  SELECT DISTINCT a.vec_id AS dup_a, b.vec_id AS dup_b
  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
),
ea AS (SELECT vec_id, embedding AS va FROM embeddings{where}),
eb AS (SELECT vec_id, embedding AS vb FROM embeddings{where})
SELECT dup_a, dup_b, {cos} AS cosine
FROM cand
JOIN ea ON ea.vec_id = dup_a
JOIN eb ON eb.vec_id = dup_b
WHERE {cos} >= {DEDUP_COS_LO}
"""


@_materialized
def dedup_embedding_cosine_lsh_stats_sql() -> str:
    """Oracle for operators.dedup.embedding_cosine_lsh_stats at
    threshold 0.8: the one-row pruning profile of the high-threshold
    LSH configuration, re-derived serially from the same fixed-seed hyperplanes. The
    candidate_fraction division is DOUBLE/DOUBLE of identical integers
    on both engines, so it is bit-identical."""
    cos = _cosine("va", "vb")
    return f"""
WITH bk AS (
{_bucket_keys_cte(LSH_HI)}
),
cand AS (
  SELECT DISTINCT a.vec_id AS dup_a, b.vec_id AS dup_b
  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
),
ea AS (SELECT vec_id, embedding AS va FROM embeddings),
eb AS (SELECT vec_id, embedding AS vb FROM embeddings),
nc AS (SELECT count(*) AS n_candidates FROM cand),
nv AS (SELECT CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
       FROM embeddings),
nm AS (
  SELECT count(*) AS n_matches
  FROM cand
  JOIN ea ON ea.vec_id = dup_a
  JOIN eb ON eb.vec_id = dup_b
  WHERE {cos} >= {DEDUP_COS_HI}
)
SELECT n_candidates, n_pairs,
       CAST(n_candidates AS DOUBLE) / CAST(n_pairs AS DOUBLE)
         AS candidate_fraction,
       n_matches
FROM nc, nv, nm
"""


def _top_k_tail(src: str) -> str:
    """Rank each query's (query_id, neighbor_id, cosine) rows of CTE
    ``src`` by cosine, ties to the lower neighbor id, and select ranks
    ≤ ANN_K — mirrors operators.similarity._top_k."""
    return f"""ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rank
  FROM {src}
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}"""


@_materialized
def ann_lsh_topk_sql() -> str:
    """Oracle for operators.similarity.lsh_topk (queries: vec_id <
    ANN_QUERIES)."""
    cos = _cosine("qv", "cv")
    return f"""
WITH bk AS (
{_bucket_keys_cte(LSH_ANN)}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bk c JOIN bk q ON c.t = q.t AND c.bucket = q.bucket
  WHERE q.vec_id < {ANN_QUERIES} AND c.vec_id <> q.vec_id
),
qe AS (SELECT vec_id, embedding AS qv FROM embeddings),
ce AS (SELECT vec_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {cos} AS cosine
  FROM cand
  JOIN qe ON qe.vec_id = query_id
  JOIN ce ON ce.vec_id = neighbor_id
),
{_top_k_tail("scored")}
"""


def _sq_dist(v: str, cv: str, dim: int = EMB_DIM) -> str:
    """Sequential-fold squared-L2 — mirrors the zip_with/aggregate fold
    in operators.similarity.assign_to_centroid."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> ({v}[i] - {cv}[i]) * ({v}[i] - {cv}[i]))),"
        " (acc, x) -> acc + x)"
    )


def _kmeans_chain(
    n_clusters: int,
    train_sample_denom: int | str | None,
    prefix: str = "",
    src: str = "e",
    dim: int = EMB_DIM,
) -> tuple[list[str], str]:
    """The deterministic k-means training loop (KMEANS_ITERS Lloyd
    steps) unrolled as CTEs (init = the ``n_clusters`` smallest vec_ids
    of the training set; assign = argmin sequential-fold squared-L2
    with first-min tie-break; update
    = fixed-point integer mean). Assumes a prior ``{src}(vec_id, v)``
    CTE with ``dim``-element vectors. Returns (cte_parts,
    final_centroid_cte_name) — shared by the IVF ANN oracle, the
    clustered semantic-dedup oracle, and (``prefix``-ed, one chain per
    subspace over sliced vectors) the PQ oracle.

    ``train_sample_denom`` mirrors the Spark plan's training sample
    exactly: ``"auto"`` re-derives the denominator IN SQL from the same
    count(*) / integer-division formula as operators.similarity.
    auto_train_denom (so both engines compute the identical denom from
    the identical table at any scale factor); an int applies
    operators.similarity.train_sample_sql verbatim; ``None`` trains on
    the full table. Only the TRAINING CTEs read the sample."""
    from ..operators.similarity import (
        AUTO_TRAIN_TARGET_PER_CLUSTER,
        TRAIN_HASH_A,
        TRAIN_HASH_ID_MOD,
        TRAIN_HASH_MOD,
        train_sample_sql,
    )

    s = sql_double_lit(KMEANS_SCALE)
    p = prefix
    parts: list[str] = []
    if train_sample_denom is None:
        train = src
    elif train_sample_denom == "auto":
        # denom = greatest(1, n // (target * k)): same integer division
        # as the Python-side auto_train_denom, evaluated on the same
        # table — the two engines stay in lockstep at any sf. With
        # denom 1 the hash predicate is trivially true (hash < 2^32),
        # so tr ≡ src exactly when the Spark side skips the filter.
        t = AUTO_TRAIN_TARGET_PER_CLUSTER * n_clusters
        parts.append(f"""{p}den AS (SELECT greatest(1, count(*) // {t}) AS d FROM {src}),
{p}tr AS (
  SELECT e.vec_id, e.v FROM {src} e, {p}den
  WHERE (((e.vec_id % {TRAIN_HASH_ID_MOD}) * {TRAIN_HASH_A})
         % {TRAIN_HASH_MOD}) < ({TRAIN_HASH_MOD} // {p}den.d)
     OR e.vec_id < {n_clusters}
),""")
        train = f"{p}tr"
    else:
        parts.append(f"""{p}tr AS (
  SELECT vec_id, v FROM {src}
  WHERE {train_sample_sql('vec_id', train_sample_denom, n_clusters)}
),""")
        train = f"{p}tr"
    # init: row_number over vec_id order — cid i = i-th smallest id
    parts.append(f"""{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v AS cv
  FROM (SELECT vec_id, v FROM {train} ORDER BY vec_id LIMIT {n_clusters})
),""")
    prev = f"{p}c0"
    for it in range(1, KMEANS_ITERS + 1):
        # assign: argmin distance, ties to the lowest cid (identical to
        # the Spark fold's keep-first-strict-min behavior)
        parts.append(f"""{p}a{it} AS (
  SELECT s.vec_id, (array_agg(s.cid ORDER BY s.d, s.cid))[1] AS cluster_id
  FROM (SELECT e.vec_id, c.cid, {_sq_dist('e.v', 'c.cv', dim)} AS d
        FROM {train} e CROSS JOIN {prev} c) s
  GROUP BY s.vec_id
),""")
        # update: fixed-point integer sums per (cluster, dimension)
        parts.append(f"""{p}m{it} AS (
  SELECT a.cluster_id AS cid, i,
         CAST(CAST(SUM(CAST(floor(e.v[i] * {s}) AS BIGINT)) AS BIGINT)
              AS DOUBLE) / {s} / count(*) AS m
  FROM {p}a{it} a JOIN {train} e USING (vec_id) CROSS JOIN range(1, {dim + 1}) t(i)
  GROUP BY a.cluster_id, i
),""")
        # assemble: empty clusters keep the previous centroid
        parts.append(f"""{p}c{it} AS (
  SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, array_agg(m ORDER BY i) AS cv FROM {p}m{it} GROUP BY cid
  ) mm USING (cid)
),""")
        prev = f"{p}c{it}"
    return parts, prev


def _assign_cte(name: str, cents: str) -> str:
    """CTE ``name``(vec_id, cluster_id): every vector's argmin cell
    against centroid CTE ``cents`` (ties to the lowest cid) —
    mirrors operators.similarity.assign_to_centroid."""
    return f"""{name} AS (
  SELECT s.vec_id, (array_agg(s.cid ORDER BY s.d, s.cid))[1] AS cluster_id
  FROM (SELECT e.vec_id, c.cid, {_sq_dist('e.v', 'c.cv')} AS d
        FROM e CROSS JOIN {cents} c) s
  GROUP BY s.vec_id
)"""


def _probed_cte(cents: str) -> str:
    """CTE probed(query_id, cluster_id): the IVF_PROBES nearest cells of
    each query — mirrors operators.similarity.assign_probes."""
    return f"""probed AS (
  SELECT s.vec_id AS query_id,
         unnest(list_slice(array_agg(s.cid ORDER BY s.d, s.cid),
                           1, {IVF_PROBES})) AS cluster_id
  FROM (SELECT e.vec_id, c.cid, {_sq_dist('e.v', 'c.cv')} AS d
        FROM e CROSS JOIN {cents} c WHERE e.vec_id < {ANN_QUERIES}) s
  GROUP BY s.vec_id
)"""


@_materialized
def ann_ivf_topk_sql(train_sample_denom: int | str | None = "auto") -> str:
    """Oracle for operators.similarity.ivf_topk: the k-means chain
    (:func:`_kmeans_chain`), then the probe/score/rank pipeline —
    candidate assignment and probing read full ``e``, just like the
    plan."""
    parts = [_E_CTE]
    chain, prev = _kmeans_chain(IVF_CLUSTERS, train_sample_denom)
    parts.extend(chain)
    cos = _cosine("qv", "cv2")
    parts.append(f"""cands AS (
  SELECT s.vec_id AS neighbor_id,
         (array_agg(s.cid ORDER BY s.d, s.cid))[1] AS cluster_id
  FROM (SELECT e.vec_id, c.cid, {_sq_dist('e.v', 'c.cv')} AS d
        FROM e CROSS JOIN {prev} c) s
  GROUP BY s.vec_id
),
{_probed_cte(prev)},
qe AS (SELECT vec_id, embedding AS qv FROM embeddings),
ce AS (SELECT vec_id, embedding AS cv2 FROM embeddings),
scored AS (
  SELECT p.query_id, c.neighbor_id, {cos} AS cosine
  FROM probed p
  JOIN cands c ON c.cluster_id = p.cluster_id
  JOIN qe ON qe.vec_id = p.query_id
  JOIN ce ON ce.vec_id = c.neighbor_id
  WHERE p.query_id <> c.neighbor_id
),
{_top_k_tail("scored")}""")
    return "\n".join(parts)


@_materialized
def dedup_semantic_clusters_sql(threshold: float) -> str:
    """Oracle for operators.dedup.semantic_duplicates_clustered: the
    k-means chain (:func:`_kmeans_chain`), full-table assignment, then
    within-cluster (a < b) pairs verified with the exact sequential-fold
    cosine — the SemDeDup shape: pairwise work confined to cells."""
    cos = _cosine("va", "vb")
    parts = [_E_CTE]
    chain, prev = _kmeans_chain(IVF_CLUSTERS, "auto")
    parts.extend(chain)
    parts.append(f"""{_assign_cte("asg", prev)},
ea AS (SELECT vec_id, embedding AS va FROM embeddings),
eb AS (SELECT vec_id, embedding AS vb FROM embeddings),
scored AS (
  SELECT a.vec_id AS dup_a, b.vec_id AS dup_b, {cos} AS cosine
  FROM asg a
  JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN ea ON ea.vec_id = a.vec_id
  JOIN eb ON eb.vec_id = b.vec_id
)
SELECT dup_a, dup_b, cosine FROM scored
WHERE cosine >= {sql_double_lit(threshold)}""")
    return "\n".join(parts)


def _q_maxabs(v: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform({v}, x -> abs(x))),"
        " (acc, x) -> greatest(acc, x))"
    )


def _int8_topk_prep_cte() -> str:
    """Per-vector quantization CTE (vec_id, v, qv, qscale, nrm),
    mirroring operators.similarity._int8_prep fold-for-fold: scale =
    greatest(max |x|, INT8_EPS) / 127 (eps guards the all-zero vector),
    codes = floor(x / scale) — floor, never round(): round's half-way
    ties split Spark's HALF_UP from DuckDB's HALF_EVEN."""
    return f"""q8 AS (
  SELECT vec_id, v,
         list_transform(v, x -> CAST(floor(x / (greatest({_q_maxabs('v')},
           {sql_double_lit(INT8_EPS)}) / {sql_double_lit(127.0)})) AS BIGINT)) AS qv,
         greatest({_q_maxabs('v')}, {sql_double_lit(INT8_EPS)}) / {sql_double_lit(127.0)} AS qscale,
         {NORM.format(v='v')} AS nrm
  FROM e
)"""


@_materialized
def ann_int8_topk_sql() -> str:
    """Oracle for operators.similarity.int8_topk: per-vector int8
    scalar quantization, exact int64 dot products on the codes (order-
    independent — integer sums), approximate-score band of
    ``ANN_K * INT8_RERANK`` per query, exact-cosine rerank to top k."""
    idot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, {EMB_DIM + 1}),"
        " i -> q.qv[i] * c.qv[i])),"
        " (acc, x) -> acc + x)"
    )
    return f"""
WITH e AS (SELECT vec_id,
 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
 FROM embeddings),
{_int8_topk_prep_cte()},
approx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({idot} AS DOUBLE) * q.qscale * c.qscale
           / (q.nrm * c.nrm) AS ascore
  FROM q8 q JOIN q8 c ON q.vec_id < {ANN_QUERIES} AND q.vec_id <> c.vec_id
),
{_rerank_tail_parts(INT8_RERANK)}
"""


def _dot_sub(a: str, b: str, dim: int) -> str:
    """Sequential-fold dot over ``dim``-element lists — mirrors the
    zip_with/aggregate fold the PQ lookup tables use."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> {a}[i] * {b}[i])),"
        " (acc, x) -> acc + x)"
    )


def _sumsq(v: str) -> str:
    """Sequential sum-of-squares fold (pre-sqrt norm²) — mirrors
    ``F.aggregate(cv, 0.0, acc + x·x)`` on the Spark side."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform({v}, x -> x * x)),"
        " (acc, x) -> acc + x)"
    )


def _pq_subspace_chains(
    n_subspaces: int, train_sample_denom: int | str | None
) -> tuple[list[str], list[str]]:
    """Per-subspace vector slicing + one PQ_CODES-cell k-means chain
    each — the PQ training core as CTE parts. Returns (parts,
    final_codebook_cte names), shared by the full ANN oracles
    (:func:`_pq_code_parts`) and the persisted-artifact oracles."""
    sub = EMB_DIM // n_subspaces
    parts: list[str] = []
    finals: list[str] = []
    for j in range(n_subspaces):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"e{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e),")
        chain, prev = _kmeans_chain(
            PQ_CODES, train_sample_denom, prefix=f"s{j}", src=f"e{j}", dim=sub
        )
        parts.extend(chain)
        finals.append(prev)
    return parts, finals


def _code_ctes(finals: list[str]) -> list[str]:
    """Per-subspace code assignment ``k{j}``(vec_id, code) over the FULL
    sliced table (argmin distance, ties to lowest cid — same as the
    Spark _argmin_code_sql), one CTE part per final codebook CTE."""
    sub = EMB_DIM // len(finals)
    return [
        f"""k{j} AS (
  SELECT s.vec_id, (array_agg(s.cid ORDER BY s.d, s.cid))[1] AS code
  FROM (SELECT x.vec_id, c.cid, {_sq_dist('x.v', 'c.cv', sub)} AS d
        FROM e{j} x CROSS JOIN {cb} c) s
  GROUP BY s.vec_id
),"""
        for j, cb in enumerate(finals)
    ]


def _pq_code_parts(
    n_subspaces: int, train_sample_denom: int | str | None
) -> tuple[list[str], str, str]:
    """The PQ core as CTE parts — per-subspace slicing + k-means
    chains, full-table code assignment, the ``codes`` CTE
    (vec_id, c0..c{m-1}), the ``q`` query set, and the per-subspace
    ``qt{j}`` ADC lookup tables. Returns (parts, adot, rsum) where
    adot/rsum are the lookup-sum expressions over alias ``c`` — shared
    by the PQ and IVF-PQ oracles (assumes a prior ``e(vec_id, v)``
    CTE)."""
    sub = EMB_DIM // n_subspaces
    parts, finals = _pq_subspace_chains(n_subspaces, train_sample_denom)
    parts.extend(_code_ctes(finals))
    code_cols = ", ".join(f"k{j}.code AS c{j}" for j in range(n_subspaces))
    code_joins = " ".join(
        f"JOIN k{j} USING (vec_id)" for j in range(1, n_subspaces)
    )
    parts.append(f"codes AS (SELECT vec_id, {code_cols} FROM k0 {code_joins}),")
    # query set: full-vector norm + per-subspace lookup tables ordered
    # by code id (dt = dot of query subvector with each codebook entry,
    # rn = reconstructed-norm² per entry)
    parts.append(
        f"q AS (SELECT vec_id AS query_id, {NORM.format(v='v')} AS q_nrm"
        f" FROM e WHERE vec_id < {ANN_QUERIES}),"
    )
    for j, cb in enumerate(finals):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"""qt{j} AS (
  SELECT s.query_id,
         array_agg({_dot_sub('s.sv', 'c.cv', sub)} ORDER BY c.cid) AS dt,
         array_agg({_sumsq('c.cv')} ORDER BY c.cid) AS rn
  FROM (SELECT vec_id AS query_id, v[{lo}:{hi}] AS sv FROM e
        WHERE vec_id < {ANN_QUERIES}) s
  CROSS JOIN {cb} c
  GROUP BY s.query_id
),""")
    adot = " + ".join(f"qt{j}.dt[c.c{j} + 1]" for j in range(n_subspaces))
    rsum = " + ".join(f"qt{j}.rn[c.c{j} + 1]" for j in range(n_subspaces))
    return parts, adot, rsum


def _rerank_tail_parts(rerank_factor: int) -> str:
    """The band → exact-cosine rerank → rank ≤ ANN_K tail shared by the
    int8 / PQ / IVF-PQ oracles (assumes a prior ``approx(query_id,
    neighbor_id, ascore)`` CTE) — mirrors operators.similarity.
    _exact_rerank_topk."""
    cos = _cosine("qe.va", "ce.vb")
    return f"""band AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ascore DESC, neighbor_id) AS arank
  FROM approx
),
qe AS (SELECT vec_id, embedding AS va FROM embeddings),
ce AS (SELECT vec_id, embedding AS vb FROM embeddings),
rescored AS (
  SELECT b.query_id, b.neighbor_id, {cos} AS cosine
  FROM band b
  JOIN qe ON qe.vec_id = b.query_id
  JOIN ce ON ce.vec_id = b.neighbor_id
  WHERE b.arank <= {ANN_K * rerank_factor}
),
{_top_k_tail("rescored")}"""


@_materialized
def ann_pq_topk_sql(train_sample_denom: int | str | None = "auto") -> str:
    """Oracle for operators.similarity.pq_topk — product quantization
    with asymmetric distance computation, fully re-derived in serial
    SQL: one :func:`_kmeans_chain` per subspace over the sliced
    vectors (identical codebooks bit for bit), per-vector code
    assignment, per-query lookup tables (dot of the query subvector
    with every codebook entry, plus the reconstructed-norm² table),
    then the approximate-cosine band of ``ANN_K * PQ_RERANK`` and the
    exact-cosine rerank — the same band/rerank tail as the int8
    oracle. Every float expression is the same sequential fold in the
    same subspace order as the Spark plan, so the approximate band is
    value-hash reproducible."""
    parts = [_E_CTE]
    core, adot, rsum = _pq_code_parts(PQ_SUBSPACES, train_sample_denom)
    parts.extend(core)
    qt_joins = " ".join(
        f"JOIN qt{j} USING (query_id)" for j in range(PQ_SUBSPACES)
    )
    parts.append(f"""approx AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ({adot}) / (q.q_nrm * sqrt({rsum})) AS ascore
  FROM codes c CROSS JOIN q {qt_joins}
  WHERE q.query_id <> c.vec_id
),
{_rerank_tail_parts(PQ_RERANK)}""")
    return "\n".join(parts)


@_materialized
def ann_ivfpq_topk_sql() -> str:
    """Oracle for operators.similarity.ivfpq_topk — the composed
    IVF-PQ layout re-derived serially: the coarse k-means chain
    (prefix ``g``, identical to the IVF oracle's), the per-subspace PQ
    chains (:func:`_pq_code_parts`), full-table coarse assignment
    (``cands``), per-query probe lists (``probed``), then ADC scoring
    RESTRICTED to candidates whose cell is probed by the query — each
    candidate sits in exactly one cell and probes are distinct, so no
    pair dedup is needed — and the shared band/rerank tail. Both
    trainers' ``"auto"`` denominators derive from the same count(*)
    formula the Spark side uses."""
    parts = [_E_CTE]
    chain, coarse = _kmeans_chain(IVF_CLUSTERS, "auto", prefix="g")
    parts.extend(chain)
    core, adot, rsum = _pq_code_parts(IVFPQ_SUBSPACES, "auto")
    parts.extend(core)
    qt_joins = " ".join(
        f"JOIN qt{j} ON qt{j}.query_id = p.query_id"
        for j in range(IVFPQ_SUBSPACES)
    )
    parts.append(f"""{_assign_cte("cands", coarse)},
{_probed_cte(coarse)},
approx AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         ({adot}) / (q.q_nrm * sqrt({rsum})) AS ascore
  FROM probed p
  JOIN cands a ON a.cluster_id = p.cluster_id
  JOIN codes c ON c.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  {qt_joins}
  WHERE p.query_id <> c.vec_id
),
{_rerank_tail_parts(IVFPQ_RERANK)}""")
    return "\n".join(parts)


@_materialized
def cluster_doc_quality_sql() -> str:
    """Oracle for the cross-modal curation report: the shared k-means
    chain assigns every embedding to a cell, then document metadata
    joins on doc_id = vec_id and aggregates per cell. All aggregates
    are order-independent (integer sums, counts) with one final
    double division, so the report is value-hash gated."""
    parts = [_E_CTE]
    chain, prev = _kmeans_chain(IVF_CLUSTERS, "auto")
    parts.extend(chain)
    parts.append(f"""{_assign_cte("cands", prev)}
SELECT c.cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       CAST(CAST(SUM(d.n_chars) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_chars,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
FROM cands c JOIN documents d ON d.doc_id = c.vec_id
GROUP BY c.cluster_id""")
    return "\n".join(parts)


def _last_cte(parts: list[str]) -> list[str]:
    """Drop the trailing comma of the last CTE part, so a SELECT can
    follow."""
    return parts[:-1] + [parts[-1].rstrip().removesuffix(",")]


@_materialized
def ivf_centroids_sql() -> str:
    """Oracle for the PERSISTED IVF centroid artifact (sources.
    ann_store.trained_ivf_centroids read back as rows): the identical
    unrolled k-means chain every IVF query oracle uses, with the final
    codebook unnested to (cid, pos, val) — one row per trained
    coefficient. Hash-green here proves the on-disk artifact is bit-
    identical to a fresh serial re-derivation, which is what licenses
    the serve-path queries to keep their training-unrolled oracles."""
    chain, prev = _kmeans_chain(IVF_CLUSTERS, "auto")
    parts = _last_cte([_E_CTE, *chain])
    parts.append(
        f"SELECT c.cid, CAST(i - 1 AS INT) AS pos, c.cv[i] AS val\n"
        f"FROM {prev} c CROSS JOIN range(1, {EMB_DIM + 1}) t(i)"
    )
    return "\n".join(parts)


@_materialized
def pq_codebooks_sql() -> str:
    """Oracle for the PERSISTED PQ codebook artifact (sources.
    ann_store.trained_pq_codebooks read back as rows): the identical
    per-subspace unrolled k-means chains the PQ ANN oracles use
    (:func:`_pq_subspace_chains`), each final codebook unnested to
    (subspace, cid, pos, val)."""
    sub = EMB_DIM // PQ_SUBSPACES
    chains, finals = _pq_subspace_chains(PQ_SUBSPACES, "auto")
    parts = _last_cte([_E_CTE, *chains])
    selects = [
        f"SELECT CAST({j} AS INT) AS subspace, c.cid,"
        f" CAST(i - 1 AS INT) AS pos, c.cv[i] AS val\n"
        f"FROM {final} c CROSS JOIN range(1, {sub + 1}) t(i)"
        for j, final in enumerate(finals)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)


def _code_select_cols(n_subspaces: int) -> str:
    return ", ".join(
        f"CAST(k{j}.code AS INT) AS code_{j}" for j in range(n_subspaces)
    )


@_materialized
def pq_index_codes_sql() -> str:
    """Oracle for the PERSISTED encoded candidate table (sources.
    ann_store.trained_pq_codes read back as rows): the per-subspace
    unrolled k-means chains, then the full-table argmin code
    assignment — i.e. exactly the ``codes`` CTE of the PQ ANN oracle,
    returned directly as (vec_id, code_0..code_{m-1}). A hash-green
    row proves the on-disk index every ``ann_pq_topk`` serve reads is
    bit-identical to a fresh ``pq_encode`` run."""
    chains, finals = _pq_subspace_chains(PQ_SUBSPACES, "auto")
    parts = _last_cte([_E_CTE, *chains, *_code_ctes(finals)])
    code_joins = " ".join(
        f"JOIN k{j} USING (vec_id)" for j in range(1, PQ_SUBSPACES)
    )
    parts.append(
        f"SELECT vec_id, {_code_select_cols(PQ_SUBSPACES)} FROM k0 {code_joins}"
    )
    return "\n".join(parts)


@_materialized
def ivfpq_index_rows_sql() -> str:
    """Oracle for the PERSISTED composed IVF-PQ index table (sources.
    ann_store.trained_ivfpq_index read back as rows): the coarse
    k-means chain + full-table argmin cell assignment, and the
    per-subspace chains + argmin code assignment — i.e. exactly the
    ``cands``/``codes`` CTEs of the IVF-PQ ANN oracle, joined and
    returned as (vec_id, cluster_id, code_0..code_{m-1}). Hash-green
    proves the on-disk index every ``ann_ivfpq_topk`` serve reads is
    bit-identical to a fresh assign+encode pass."""
    chain, coarse = _kmeans_chain(IVF_CLUSTERS, "auto", prefix="g")
    chains, finals = _pq_subspace_chains(IVFPQ_SUBSPACES, "auto")
    parts = [_E_CTE, *chain, *chains, *_code_ctes(finals)]
    parts.append(f"""cands AS (
  SELECT s.vec_id,
         CAST((array_agg(s.cid ORDER BY s.d, s.cid))[1] AS INT)
           AS cluster_id
  FROM (SELECT e.vec_id, c.cid, {_sq_dist('e.v', 'c.cv')} AS d
        FROM e CROSS JOIN {coarse} c) s
  GROUP BY s.vec_id
)""")
    code_joins = " ".join(
        f"JOIN k{j} USING (vec_id)" for j in range(IVFPQ_SUBSPACES)
    )
    parts.append(
        f"SELECT vec_id, cluster_id, {_code_select_cols(IVFPQ_SUBSPACES)}"
        f" FROM cands {code_joins}"
    )
    return "\n".join(parts)
