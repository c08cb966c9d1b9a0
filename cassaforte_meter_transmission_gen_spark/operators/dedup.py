"""Deduplication operators for LLM-data pipelines (BASELINE.json north
star): exact, MinHash+LSH near-dup, SimHash near-dup.

All three are pure DataFrame compositions — no Python in the row path —
and follow the standard distributed shapes:

- **exact**: hash-groupBy on a content fingerprint. One shuffle on the
  fingerprint; at 100 TB this is the cheapest possible dedup (the
  shuffle carries (fingerprint, doc_id), not document text).
- **MinHash+LSH**: shingle → hash array → per-permutation array_min —
  the whole signature is a narrow per-row Project (NO explode, NO
  shuffle) → band keys → self-join per band (the LSH bucket join) →
  verified Jaccard on candidates only. The candidate join is the only
  quadratic-risk step and it is confined to same-bucket groups; at
  scale, bucket skew is handled by AQE skew-join (enabled in
  session.py).
- **SimHash**: per-token hash bit-counts via 60 array aggregates →
  60-bit signature, again one narrow Project with no shuffle; near-dup
  pairs via the pigeonhole band join (hamming ≤ 3 ⇒ at least one of 4
  15-bit blocks equal), verified with bit_count(xor).

Signature computation is deliberately shuffle-free: the natural
explode + groupBy shape shuffles one (doc_id, hash) row per shingle —
at 100 TB that exchange dwarfs the actual hashing work, and measured
16× slower even at sf0.1 (tests/test_plan_audit.py locks the shape).

Signatures hash with the md5-portable 60-bit hash
(functions.text.tok_hash_portable_sql), which the DuckDB oracles
re-derive bit for bit. The embedding near-dup configurations (LSH
tables × planes, k-means cells) are the shared constants of
operators.similarity.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spread import spread_small_scan

from ..functions.text import (
    MINHASH_PRIME,
    tok_hash_portable_sql,
    tokens_sql,
    word_shingles_sql,
)
from .similarity import (
    DEDUP_COS_HI,
    DEDUP_COS_LO,
    IVF_CLUSTERS,
    LSH_DEDUP,
    LSH_HI,
    _bucket_keys,
    _normed,
    assign_to_centroid,
    cosine_pre_sql,
    kmeans_centroids,
    lsh_tables,
)

# --- MinHash permutation constants (fixed seed; also embedded into the
# oracle SQL text by plans.text_queries so both engines share them) ---

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS

_rng = random.Random(20130101)
#: multipliers < 2^30 keep a*h < 2^62 (no overflow, see functions.text)
MINHASH_A = [_rng.randrange(1, 1 << 30) for _ in range(N_PERM)]
MINHASH_B = [_rng.randrange(0, 1 << 30) for _ in range(N_PERM)]

SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 15

#: word-shingle width of every shingle-set operator here
SHINGLE_N = 3


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact dedup groups over a ``documents``-shaped frame (doc_id,
    text): md5 fingerprint → (fingerprint, keeper id, copy count).
    Keeper = min id (deterministic)."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


#: hoisted to functions.spread in round 14 (shared with the scan-bound
#: catalog queries); semantics unchanged — see that module's docstring
#: for the metadata-only gate and its 100 TB no-op argument.
_spread = spread_small_scan


def _shingled(df: DataFrame) -> DataFrame:
    # filter on token COUNT before projecting the shingle array: a
    # filter on size(shingles) would make Catalyst inline the whole
    # shingle expression into the Filter and re-evaluate it in the
    # Project above (codegen CSE works within one collapsed Project but
    # not across Filter/Generate operators — measured 5× on sf0.1).
    # size(tokens) >= n  ⟺  size(shingles) > 0 (word_shingles_sql
    # contract). Built as server-parsed SQL strings (r14): the Column
    # form paid ~100 py4j round trips of pure driver latency per build
    # — same expression tree, two round trips (see functions.text).
    toks = tokens_sql("`text`")
    return (
        _spread(df)
        .where(f"size({toks}) >= {SHINGLE_N}")
        .selectExpr(
            "`doc_id` AS doc_id",
            f"{word_shingles_sql(toks, SHINGLE_N)} AS shingles",
        )
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, m0..m{N_PERM-1}) minhash signature as one narrow
    per-row projection — see `_signatures_from_shingles` for why this
    deliberately avoids the explode + groupBy(min) shape."""
    return _signatures_from_shingles(_shingled(df))


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    # Per-row form: hash the shingle array once, then one array_min per
    # permutation — a single narrow Project, NO explode and NO shuffle.
    # Same values as the explode+groupBy(min) shape (min over the same
    # multiset), but the whole signature is computed inside one
    # WholeStageCodegen span where the hash array is CSE-shared; at
    # scale this removes the (doc_id, h)-keyed exchange entirely.
    hash_sql = tok_hash_portable_sql("s")
    # whole projection as server-parsed strings in TWO selectExpr round
    # trips (r14; the Column/lambda form paid ~10 py4j trips per
    # permutation plus the hash-transform lambda); long arithmetic is
    # identical: a < 2^30, h < 2^32 ⇒ a·h + b < 2^62. The h projection
    # stays a separate Project so the 16 array_mins share ONE hash pass
    # (CollapseProject keeps non-cheap producers with >1 reference).
    hashed = sh.selectExpr(
        "doc_id",
        f"transform(shingles, s -> {hash_sql} % {MINHASH_PRIME}L) AS h",
    )
    return hashed.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(h, h -> "
            f"({MINHASH_A[i]}L * h + {MINHASH_B[i]}L) % {MINHASH_PRIME}L))"
            f" AS m{i}"
            for i in range(N_PERM)
        ],
    )


def _band_keys(sig: DataFrame) -> DataFrame:
    """Explode the signature into (doc_id, band_idx, band_key) — the
    LSH bucket id is ``xxhash64`` over the band's minhash values.

    r14 (guide §2.3, narrower types): the key was
    ``md5(concat_ws(',', m...))`` — a 32-char string built via a
    per-row concat allocation. Bucketing only needs equal bands to
    collide: xxhash64 over the raw longs is an 8-byte key with no
    string building, shuffling a quarter of the bytes per band row at
    any scale. A cross-band xxhash collision (~2⁻⁶⁴) merely ADDS a
    candidate pair, which the exact-Jaccard verify filters — results
    identical by construction, and the DuckDB oracle re-derives its
    own (md5) candidates so parity gates the equivalence."""
    bands = ", ".join(
        "named_struct('band_idx', {b}, 'band_key', xxhash64({ms}))".format(
            b=b,
            ms=", ".join(
                f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return sig.selectExpr(
        "doc_id", f"explode(array({bands})) AS bk"
    ).selectExpr("doc_id", "bk.band_idx AS band_idx", "bk.band_key AS band_key")


def minhash_near_duplicates(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates (any shared band)
    → exact Jaccard on shingle sets → filter ≥ threshold.

    Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    """
    # The shingle table feeds three plan branches (signatures + both
    # sides of the verification join) and is deliberately NOT persisted
    # (r14 A/B, guide §5: cache only when recompute beats the memory
    # pressure): shingling is one cheap narrow pass over the scan, while
    # materializing the ~2-5×-text shingle arrays cost 0.3-0.5 s at
    # bench scale (steady 1.45 s persisted vs 1.11 s recomputed) and at
    # 100 TB would pin/spill multiples of the corpus for work a scan
    # re-derives in-pipeline.
    sh = _shingled(df)
    bk = _band_keys(_signatures_from_shingles(sh))
    # Candidate pairs via groupBy-bucket instead of a band self-join:
    # the self-join shuffles the band keys twice AND recomputes the
    # N_PERM-permutation signature projection once per side (no
    # ReusedExchange — the sides are distinct subplans). Grouping
    # shuffles the band keys ONCE, computes signatures ONCE, and
    # expands i<j pairs inside each bucket (buckets are small by LSH
    # construction; a pathological hot bucket is quadratic under either
    # formulation and belongs to an upstream boilerplate pre-filter).
    pairs = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> named_struct('doc_a', x, 'doc_b', y))))"
    )
    cand = (
        bk.groupBy("band_idx", "band_key")
        .agg(F.expr("sort_array(collect_list(doc_id))").alias("ids"))
        .where("size(ids) > 1")
        .selectExpr(f"explode({pairs}) AS p")
        .selectExpr("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sh.selectExpr("doc_id AS doc_a", "shingles AS sh_a")
    sb = sh.selectExpr("doc_id AS doc_b", "shingles AS sh_b")
    # two-step select so the intersection is computed ONCE per pair:
    # jaccard references it in numerator AND denominator, and inlining
    # the array_intersect into both (the single-select form) doubles
    # the per-pair set work (CollapseProject keeps this split — the
    # producer is non-cheap and referenced twice). At sf0.1 the verify
    # is ~10² pairs so this is inside noise; at real candidate volumes
    # (millions of pairs, 50-100-shingle sets) the intersection IS the
    # verify cost
    sized = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS __i",
            "(size(sh_a) + size(sh_b)) AS __t",
        )
    )
    return sized.selectExpr(
        "doc_a",
        "doc_b",
        "CAST(__i AS DOUBLE) / CAST(__t - __i AS DOUBLE) AS jaccard",
    ).where(f"jaccard >= CAST({threshold!r} AS DOUBLE)")


def minhash_incremental_duplicates(
    corpus: DataFrame, increment: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """INCREMENTAL near-dup: which NEW documents duplicate the existing
    corpus — the continuous-ingestion production shape. The increment's
    band keys join against the corpus's band keys only: never
    corpus × corpus (the already-deduped history is not re-paired) and
    never increment × increment (run the symmetric
    :func:`minhash_near_duplicates` on the increment separately if
    intra-batch dups matter).

    Scale shape: the increment is small relative to the corpus, so its
    band keys and shingle sets BROADCAST — the corpus is scanned once
    for signatures and once for the verify join's shingle fetch, with
    no corpus-sized shuffle at all. At 100 TB with persisted corpus
    signatures (the natural incremental refinement) the corpus scan
    drops to the candidate ids only.

    Returns (new_doc, corpus_doc, jaccard ≥ threshold)."""
    sh_c = _shingled(corpus)
    sh_i = _shingled(increment)
    bk_c = _band_keys(_signatures_from_shingles(sh_c)).withColumnRenamed(
        "doc_id", "corpus_doc"
    )
    bk_i = _band_keys(_signatures_from_shingles(sh_i)).withColumnRenamed(
        "doc_id", "new_doc"
    )
    cand = (
        bk_c.join(F.broadcast(bk_i), ["band_idx", "band_key"])
        .select("new_doc", "corpus_doc")
        .distinct()
    )
    sa = sh_c.selectExpr("doc_id AS corpus_doc", "shingles AS sh_a")
    sb = sh_i.selectExpr("doc_id AS new_doc", "shingles AS sh_b")
    # same one-eval intersection split as minhash_near_duplicates
    sized = (
        cand.join(sa, "corpus_doc")
        .join(F.broadcast(sb), "new_doc")
        .selectExpr(
            "new_doc",
            "corpus_doc",
            "size(array_intersect(sh_a, sh_b)) AS __i",
            "(size(sh_a) + size(sh_b)) AS __t",
        )
    )
    return sized.selectExpr(
        "new_doc",
        "corpus_doc",
        "CAST(__i AS DOUBLE) / CAST(__t - __i AS DOUBLE) AS jaccard",
    ).where(f"jaccard >= CAST({threshold!r} AS DOUBLE)")


def simhash_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-token 60-bit hash, ±1 vote per bit,
    signature bit set where the vote is positive.

    Per-row form: hash the distinct-token array once, then 60 array
    aggregates count the set bits per position — a single narrow
    Project, NO explode and NO shuffle (same rationale as the minhash
    signature shape above). The ±1 vote over n tokens is positive iff
    2·ones > n, so only the ones-count is accumulated. Docs with no
    tokens are dropped, matching the explode form (explode of an empty
    array emits no rows); the filter tests token count, not the hashed
    array, to keep the expensive expression out of the Filter operator.
    """
    hash_sql = tok_hash_portable_sql("t")
    toks = tokens_sql("`text`")
    hashed = (
        _spread(df)
        .where(f"size({toks}) > 0")
        .selectExpr(
            "`doc_id` AS doc_id",
            f"transform(array_distinct({toks}), t -> {hash_sql}) AS hs",
        )
    )
    # the 60-bit vote sum as ONE server-parsed SQL expression: built
    # through the Column API (60 aggregates × lambda plumbing) this
    # cost ≈ 1.9 s of pure driver-side py4j time per query build —
    # integer semantics are identical (same per-bit aggregate, same
    # bit weights), locked by the DuckDB oracle re-derivation
    terms = []
    for i in range(SIMHASH_BITS):
        ones = (
            "aggregate(hs, CAST(0 AS LONG), (acc, h) -> acc + "
            f"(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE 0 END))"
        )
        terms.append(
            f"(CASE WHEN 2 * {ones} > size(hs) THEN {1 << i}L ELSE 0L END)"
        )
    sim = "CAST(0 AS LONG) + " + " + ".join(terms)
    return hashed.select("doc_id", F.expr(sim).alias("simhash"))


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole band join (hamming ≤ 3 ⇒
    ≥1 of 4 15-bit blocks identical), verified with bit_count(xor).

    Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    sig = simhash_signatures(df)
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = ", ".join(
        f"named_struct('block_idx', {b}, 'block_key', "
        f"shiftright(simhash, {b * SIMHASH_BLOCK_BITS}) & {mask})"
        for b in range(SIMHASH_BLOCKS)
    )
    bk = sig.selectExpr(
        "doc_id", "simhash", f"explode(array({blocks})) AS b"
    ).selectExpr(
        "doc_id",
        "simhash",
        "b.block_idx AS block_idx",
        "b.block_key AS block_key",
    )
    left = bk.selectExpr(
        "doc_id AS doc_a", "simhash AS sim_a", "block_idx", "block_key"
    )
    right = bk.selectExpr(
        "doc_id AS doc_b", "simhash AS sim_b", "block_idx", "block_key"
    )
    return (
        left.join(right, ["block_idx", "block_key"])
        .where("doc_a < doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming",
        )
        .distinct()
        .where(f"hamming <= {max_hamming}")
    )


# --- embedding-cosine near-dup (the fourth dedup family) ---


def _normed_a(vectors: DataFrame) -> DataFrame:
    return _normed(vectors, "dup_a", "va", "na")


def _normed_b(vectors: DataFrame) -> DataFrame:
    return _normed(vectors, "dup_b", "vb", "nb")


_COSINE_AB = cosine_pre_sql("va", "vb", "na", "nb")


def embedding_cosine_duplicates(
    vectors: DataFrame, threshold: float = DEDUP_COS_LO
) -> DataFrame:
    """Exact embedding near-dup pairs: all (a < b) pairs with
    cosine(a, b) >= threshold. O(n²) self-join — the correctness
    baseline; use :func:`embedding_cosine_duplicates_lsh` at scale.

    Returns (dup_a, dup_b, cosine)."""
    return (
        _normed_a(vectors).join(_normed_b(vectors), F.col("dup_a") < F.col("dup_b"))
        .select("dup_a", "dup_b", F.expr(_COSINE_AB).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _verified_pairs(cand: DataFrame, va: DataFrame, vb: DataFrame) -> DataFrame:
    """(dup_a, dup_b, cosine) of narrow candidate id pairs, with the
    normed vectors re-attached by one id equi-join per side."""
    return (
        cand.join(va, "dup_a")
        .join(vb, "dup_b")
        .select("dup_a", "dup_b", F.expr(_COSINE_AB).alias("cosine"))
    )


def _lsh_candidate_pairs(vectors: DataFrame, config: tuple[int, int]) -> DataFrame:
    """Narrow (dup_a, dup_b) candidate pairs under the hyperplane-LSH
    bucket join with ``config`` = (n_tables, n_planes) — the shared
    candidate generator for the pairs form and the stats form below.
    Ids only; vectors re-attach downstream."""
    tables = lsh_tables(*config)
    left = _bucket_keys(vectors, "dup_a", tables)
    right = _bucket_keys(vectors, "dup_b", tables)
    # candidates stay NARROW (id pairs only) through the bucket join
    # and the distinct; vectors re-attach via one equi-join per side
    # afterwards (tiny dimension → AQE broadcasts locally; at scale a
    # shuffle join on the id key). Carrying the arrays through the
    # T-way explode + join + distinct multiplied shuffle bytes by
    # ~2·dim·T and measured 3-4× slower at sf0.1.
    return (
        left.join(right, ["table_idx", "bucket"])
        .filter(F.col("dup_a") < F.col("dup_b"))
        .select("dup_a", "dup_b")
        .distinct()
    )


def embedding_cosine_duplicates_lsh(
    vectors: DataFrame, threshold: float = DEDUP_COS_LO
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH buckets
    confine the candidate join (quadratic only within a bucket), then
    candidates are verified with the exact cosine — precision 1.0,
    recall governed by tables × planes (same banding math as
    MinHash LSH; at cosine ≥ 0.4 agreement ≈ 0.63/plane ⇒ recall
    ≈ 1-(1-0.63³)¹² ≈ 0.97). Same output schema as the exact form.

    Candidate-rate regime (tune per corpus): a random pair (cosine ≈ 0)
    collides per table with prob ≈ 0.5^n_planes, so the expected
    candidate fraction is ≈ n_tables·0.5^n_planes. :data:`LSH_DEDUP`
    (12×3) is sized for the VERIFICATION threshold 0.4 — close enough to the
    random regime that heavy pruning is mathematically impossible
    (0.63 vs 0.5 per-plane gap), so the candidate set stays near-
    quadratic and this config only wins over the exact form by
    confining the join. MEASURED (SCALING_r11.json): time exponent
    1.90 over a 1×→10× corpus — the quadratic is real, and no plane/
    table rebalance escapes it at this threshold (recall 0.97 at p=6
    needs ~54 tables ⇒ candidate fraction 54·0.5⁶ ≈ 0.84, still
    ~all-pairs). Low-threshold full-corpus near-dup therefore routes
    through the data-adaptive cell-confined path instead
    (:func:`semantic_duplicates_clustered` with corpus-adaptive
    :func:`semantic_n_clusters` — same threshold, linear verify).
    Real near-dup corpora sit at cosine ≥ 0.8 (per-plane agreement
    0.795): 16 tables × 8 planes gives recall ≈ 1-(1-0.795⁸)¹⁶ ≈ 0.94
    while pruning candidates to ≈ 16·0.5⁸ ≈ 6% of pairs — that is the
    100 TB configuration for the real regime (measured exponent 0.89
    at 1×→10×: see :func:`embedding_cosine_lsh_stats`)."""
    cand = _lsh_candidate_pairs(vectors, LSH_DEDUP)
    return _verified_pairs(cand, _normed_a(vectors), _normed_b(vectors)).filter(
        F.col("cosine") >= threshold
    )


def embedding_cosine_lsh_stats(
    vectors: DataFrame, threshold: float = DEDUP_COS_HI
) -> DataFrame:
    """One-row pruning profile of the hyperplane-LSH dedup under the
    high-threshold (100 TB) configuration :data:`LSH_HI`: how hard do the buckets
    actually prune on this corpus?

    Returns ``(n_candidates, n_pairs, candidate_fraction, n_matches)``:
    candidate pairs surviving the bucket join, total possible pairs
    n·(n-1)/2, their ratio (predicted ≈ n_tables·0.5^n_planes — 6.25%
    for 16×8 — because a random pair agrees with a hyperplane sign with
    prob 1/2), and verified matches at ``threshold``. Every value is
    deterministic given the data and the fixed-seed hyperplanes, so the
    whole profile is value-hash verifiable by a serial SQL re-derivation
    (plans.vector_oracles.dedup_embedding_cosine_lsh_stats_sql) — the
    candidate-pruning claim itself is the externally gated quantity,
    not just the matched pairs.

    The two inputs are single-row aggregates combined by crossJoin —
    broadcast-of-one-row scalars, not a data cross product. Candidate
    count and verified-match count come from ONE pass over the
    candidate pipeline (count + conditional count in the same
    aggregation) — a separate ``matches`` subtree would recompute the
    signature/bucket/distinct chain a second time (measured ≈ 2× the
    whole query)."""
    cand_stats = (
        _lsh_candidate_pairs(vectors, LSH_HI)
        .join(_normed_a(vectors), "dup_a")
        .join(_normed_b(vectors), "dup_b")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum((F.expr(_COSINE_AB) >= threshold).cast("long")).alias("n_matches"),
        )
    )
    n_vec = vectors.agg(F.count("*").alias("n_vectors"))
    n_pairs = (F.col("n_vectors") * (F.col("n_vectors") - 1) / 2).cast("long")
    return cand_stats.crossJoin(n_vec).select(
        "n_candidates",
        n_pairs.alias("n_pairs"),
        (
            F.col("n_candidates").cast("double") / n_pairs.cast("double")
        ).alias("candidate_fraction"),
        "n_matches",
    )


#: target EXPECTED vectors per SemDeDup cell — the scale invariant.
#: Fixed cell COUNT makes cell SIZE grow with the corpus and the
#: within-cell pairwise verify grow quadratically (measured: time
#: exponent 1.81 over a 1×→10× corpus, SCALING_r11.json before-fix);
#: holding cell SIZE roughly constant instead keeps the verify linear in
#: corpus size at the cost of a k that grows with n. 125 is chosen so
#: the legacy 16-cell configuration IS the adaptive formula at the
#: 2 000-vector bench corpus (2000/125 = 16) and every parity corpus
#: (≤ 2 000 vectors) stays on the oracle-gated base.
SEMDEDUP_TARGET_CELL = 125


def semantic_n_clusters(n_vectors: int) -> int:
    """Corpus-adaptive SemDeDup cell count: ceil(n / target cell size),
    floored at the IVF_CLUSTERS cells of the shared quantizer so every
    parity corpus (≤ 2 000 vectors at SEMDEDUP_TARGET_CELL = 125, i.e.
    n ≤ IVF_CLUSTERS·target) resolves to the oracle-gated fixed-k
    configuration — the adaptive branch only engages beyond
    oracle-verified scale."""
    return max(IVF_CLUSTERS, -(-n_vectors // SEMDEDUP_TARGET_CELL))


def semantic_duplicates_clustered(
    vectors: DataFrame,
    threshold: float = DEDUP_COS_LO,
    n_clusters: int = IVF_CLUSTERS,
    train_sample_denom: int | str | None = "auto",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs: cluster the embeddings
    with the deterministic fixed-point k-means (operators.similarity.
    kmeans_centroids — same trainer as IVF ANN, including the
    ``"auto"`` training sample), then verify (a < b) pairs with the
    exact cosine WITHIN each cluster only. The data-adaptive
    counterpart to the hyperplane-LSH candidate buckets: cells follow
    the corpus's own density instead of random projections, and at
    100 TB the cluster id doubles as the storage partition key
    (sources.layout.write_ivf_partitioned), so the pairwise pass runs
    partition-local — no global shuffle of the vectors at all.

    Precision 1.0 (every emitted pair is exact-cosine verified);
    recall < 1 where a true pair straddles a cell boundary — the same
    trade SemDeDup makes, tuned by n_clusters. Same output schema as
    the other dedup forms: (dup_a, dup_b, cosine).

    Fully oracle-able: centroids, assignment, and the within-cluster
    join are all deterministic given the data, so the serial SQL dual
    (plans.vector_oracles.dedup_semantic_clusters_sql) re-derives the
    identical pair set bit for bit.

    ``centroids`` (pretrained) skips training — the registry query
    serves from the shared persisted IVF/SemDeDup quantizer
    (sources.ann_store.trained_ivf_centroids: same trainer, same
    config, so the artifact is bit-identical to training here)."""
    # The argmin-over-centroids assignment is the CPU-heavy per-row
    # expression here; a small single-file corpus reads as 1-2
    # partitions and would serialize it onto two cores (measured 21.6 s
    # at 20k×160 cells on 2 partitions vs the data's ~2 s of work) —
    # the same small-file guard the shingle paths use. Values are
    # unchanged: assignment is per-row and the k-means update sums are
    # fixed-point integers, order-free by design.
    vectors = _spread(vectors)
    if centroids is None:
        centroids = kmeans_centroids(
            vectors, n_clusters=n_clusters, train_sample_denom=train_sample_denom
        )
    # candidates stay NARROW (id, cluster_id); vectors re-attach by id
    # only for the verify join — same shape as the LSH candidate path.
    # Pinned: both sides of the candidate self-join and the verify
    # branches read it, and AQE does not reuse exchanges across
    # branches — unpinned, the argmin expression would re-evaluate per
    # consumer (the localCheckpoint rule every iterative operator here
    # follows).
    asg = (
        assign_to_centroid(vectors, centroids)
        .select(F.col("vec_id").alias("__id"), "cluster_id")
        .localCheckpoint(eager=True)
    )
    a = asg.select(F.col("__id").alias("dup_a"), "cluster_id")
    b = asg.select(F.col("__id").alias("dup_b"), "cluster_id")
    cand = (
        a.join(b, "cluster_id")
        .filter(F.col("dup_a") < F.col("dup_b"))
        .select("dup_a", "dup_b")
    )
    # .alias() on the verify-side relations: this is the THIRD branch
    # of the same source (asg already self-joins it), and without
    # explicit aliases Spark 4.1's relation dedup can mis-bind the
    # vector column when no prior job has analyzed the lineage
    # (surfaced as INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution the
    # moment the pretrained-centroid path removed the training jobs)
    va = _normed_a(vectors.alias("sem_va"))
    vb = _normed_b(vectors.alias("sem_vb"))
    return _verified_pairs(cand, va, vb).filter(F.col("cosine") >= F.lit(threshold))


def duplicate_groups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 15,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs (SURVEY §2.10:
    "MinHash ... → connected components"): collapse pairwise matches
    into dedup groups, labeling every member with the component's
    minimum doc id.

    Iterative min-label propagation WITH PATH COMPRESSION as DataFrame
    joins (the standard Spark shape when GraphFrames isn't available):
    each round, every node takes min(own label, neighbors' labels,
    its label's own label). The third term is the pointer-doubling
    hop — without it, rounds needed = component DIAMETER, so an
    adversarial duplicate chain (doc₀—doc₁—…—doc₅₉, the shape a
    boilerplate prefix mutating one token per copy produces) needs 59
    rounds and a bounded loop would exit UNCONVERGED silently; with
    it the label horizon doubles per round, so rounds ≈ log₂(diameter)
    (the large-star/small-star economics of Kiveris et al., expressed
    as one extra keyed self-join per round). ``max_iters=15`` therefore
    covers diameters to ~2¹⁵, and non-convergence RAISES rather than
    returning wrong groups. Near-dup components are usually small
    cliques (1-2 rounds) where the extra join is one cheap pass over
    the labels frame.

    The loop is driver-side control flow only; all data movement is
    distributed joins keyed on node id. Each round's result is
    localCheckpoint-ed to keep the plan from growing with iterations.
    The fixed point (component-min labels) is unique, so the compressed
    iteration converges to exactly what plain propagation converges to
    — the registry oracle re-derivation is unaffected.

    Returns (doc_id, group_id) for every node appearing in ``pairs``.
    ``rounds_out``, if given, receives the executed round count (test
    observability for the convergence bound)."""
    edges = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    )
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        # path compression: my label is a node id (the component-min
        # candidate) — hop to THAT node's current label in one keyed
        # join; labels always contains it because labels only ever
        # take node-id values
        lol = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
            .select(
                F.col("x.node").alias("node"),
                F.col("y.label").alias("plabel"),
            )
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .join(lol, "node")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nmin"), F.col("label")),
                    F.col("plabel"),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if rounds_out is not None:
        rounds_out.append(rounds)
    if not converged:
        raise RuntimeError(
            f"duplicate_groups did not converge in {max_iters} rounds — "
            "component diameter beyond ~2^max_iters; raise max_iters"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("group_id")
    )


def prefix_filter_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join via prefix
    filtering (the SSJoin/PPJoin family) — the engine's third near-dup
    scale path, and the only one that is simultaneously exact AND
    never-all-pairs: MinHash/SimHash trade recall for pruning; the
    bounded all-pairs twin (`text_ngram_jaccard_pairs`) trades scale
    for exactness; prefix filtering gives both.

    The theorem (Chaudhuri et al., SSJoin; Xiao et al., PPJoin): order
    every document's shingle set by one GLOBAL total order — here
    ascending (global frequency, shingle), so each doc's RAREST
    shingles come first — and keep only its prefix of
    ``|s| − ⌈t·|s|⌉ + 1`` shingles. Any pair with Jaccard ≥ t must
    share at least one PREFIX shingle, so the candidate join runs on
    the prefix table (rare shingles ⇒ small buckets by construction)
    and misses nothing; an exact verify on the candidates removes the
    false positives. The final pair set is therefore identical to the
    brute-force join — the oracle computes it the quadratic way and
    the hash gate pins equality.

    Scale shape: explode → shingle-frequency groupBy (partial agg) →
    per-doc rank window → prefix self-join keyed by shingle → verify
    join re-attaching the two shingle arrays by id. Every join is an
    equi-join on a key; nothing is quadratic in the corpus. The
    shingle table is PINNED once (localCheckpoint — the PageRank-edges
    pattern): three consumers (prefix derivation + both verify sides)
    would otherwise each re-derive the tokenize→shingle projection
    from the raw scan, because AQE does not reuse exchanges across
    branches whose column pruning differs.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ t.

    r15 (guide §2.3 "shuffle keys and metadata instead of payloads"):
    the pipeline runs on ``xxhash64`` SHINGLE HASHES, not shingle
    strings — the exploded prefix-index exchange, the frequency agg,
    the candidate join, and the verify intersection all carry 8-byte
    longs where a 3-word shingle string averaged ~20 bytes (plus
    per-row UTF8 comparisons in the sort/join). Set semantics are
    preserved exactly unless two distinct shingles of the same corpus
    collide in 64 bits: ``array_distinct`` over the hashed array makes
    each doc's hash set a true set, and for any hash function
    J(h(A), h(B)) ≥ J(A, B) fails only under such a collision — a
    ~2⁻⁶⁴-probability event (same honesty note as the r14 xxhash64
    LSH band keys), which the value-parity oracle (brute-force over
    strings) would catch. Below that caveat the candidate set and the
    jaccard values are identical: prefix filtering is valid for ANY
    global total order over ANY set family, and |h(A)∩h(B)| equals
    |A∩B| when h is collision-free on A∪B."""
    from pyspark.sql import Window as W

    sh = (
        _shingled(docs)
        .selectExpr(
            "doc_id AS did",
            "array_distinct(transform(shingles, g -> xxhash64(g))) AS s",
        )
        .localCheckpoint(eager=True)
    )
    # size and explode both reference the NAMED column so the shingle
    # expression evaluates once per row inside one codegen project —
    # filtering/size-ing the raw expression re-inlines it into the
    # Filter and the Generate (the _shingled lesson: measured 5× and
    # here ~7× at sf0.1 — 22.4 s → 3.3 s for the exploded count)
    ex = sh.select("did", F.size("s").alias("n"), F.explode("s").alias("g"))
    freq = ex.groupBy("g").agg(F.count("*").cast("long").alias("gf"))
    ranked = ex.join(freq, "g").withColumn(
        "rn", F.row_number().over(W.partitionBy("did").orderBy("gf", "g"))
    )
    pref = ranked.filter(
        F.col("rn")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("did", "n", "g")
    # LENGTH FILTER (lossless): J(A,B) ≥ t ⇒ |A∩B|/|A∪B| ≤ min/max, so
    # both sizes lie within factor t of each other — without it a hot
    # prefix shingle pairs every short doc with every long one and the
    # candidate set grows superlinearly (measured 3.2 s → 26.6 s for
    # 10× docs before this predicate; prefix + length is the PPJoin
    # pruning pair)
    cand = (
        pref.select(
            F.col("did").alias("doc_a"), F.col("n").alias("n_a"), "g"
        )
        .join(
            pref.select(
                F.col("did").alias("doc_b"), F.col("n").alias("n_b"), "g"
            ),
            "g",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") >= F.ceil(F.lit(threshold) * F.col("n_b")))
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    va = sh.select(F.col("did").alias("doc_a"), F.col("s").alias("s_a"))
    vb = sh.select(F.col("did").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """EXACT shingle-containment join: ordered pairs (a, b) where
    ``|s_a ∩ s_b| / |s_a| ≥ t`` — document a is mostly CONTAINED in b.
    The asymmetric near-dup relation Jaccard misses: a quote, excerpt,
    or boilerplate-wrapped copy has low Jaccard against its source
    (the union is dominated by the longer doc) but high containment.

    Prefix filtering applies to the PROBE side only: if a's
    ``⌈t·|s_a|⌉`` matching shingles exist in b, at least one lies in
    a's ``|s_a| − ⌈t·|s_a|⌉ + 1`` globally-rarest shingles, so
    candidates = (a-prefix ⋈ full index on shingle) — never all-pairs;
    the indexed side cannot be pruned (any of b's shingles may be the
    witness), which is the structural difference from the symmetric
    join (:func:`prefix_filter_jaccard_pairs`). The exact intersection
    verify on candidates makes the result identical to brute force.

    Returns (doc_a, doc_b, containment) with a ≠ b, containment ≥ t
    measured INTO a (numerator over |s_a|). The shingle table is
    pinned once (localCheckpoint, the PageRank-edges pattern) and
    feeds the probe prefix, the full index, and both verify sides —
    no consumer re-derives the tokenize→shingle projection.

    Like :func:`prefix_filter_jaccard_pairs` (r15), the whole pipeline
    runs on ``xxhash64`` shingle hashes (8-byte longs) instead of
    shingle strings — same exchanges, a fraction of the bytes; exact
    below the ~2⁻⁶⁴ cross-shingle collision caveat documented there
    (containment |h(A)∩h(B)|/|h(A)| likewise equals the string form
    when h is collision-free on A∪B, gated by the brute-force
    oracle)."""
    from pyspark.sql import Window as W

    sh = (
        _shingled(docs)
        .selectExpr(
            "doc_id AS did",
            "array_distinct(transform(shingles, g -> xxhash64(g))) AS s",
        )
        .localCheckpoint(eager=True)
    )
    # named-column size/explode — see prefix_filter_jaccard_pairs
    ex = sh.select("did", F.size("s").alias("n"), F.explode("s").alias("g"))
    freq = ex.groupBy("g").agg(F.count("*").cast("long").alias("gf"))
    ranked = ex.join(freq, "g").withColumn(
        "rn", F.row_number().over(W.partitionBy("did").orderBy("gf", "g"))
    )
    pref = ranked.filter(
        F.col("rn")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select(F.col("did").alias("doc_a"), F.col("n").alias("n_a"), "g")
    index = ex.select(
        F.col("did").alias("doc_b"), F.col("n").alias("n_b"), "g"
    )
    # length filter (lossless, one-sided for containment): b must hold
    # ≥ ⌈t·|s_a|⌉ of a's shingles, so |s_b| ≥ ⌈t·|s_a|⌉ — prunes the
    # probe×short-doc pairs the shared-shingle join would admit
    cand = (
        pref.join(index, "g")
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    va = sh.select(
        F.col("did").alias("doc_a"), F.col("s").alias("s_a")
    )
    vb = sh.select(F.col("did").alias("doc_b"), F.col("s").alias("s_b"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("s_a", "s_b")).cast("double")
                / F.size("s_a").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
