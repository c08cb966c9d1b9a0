"""Contrastive-training triplet construction (SURVEY §2.10 family):
for each anchor embedding, pair its exact nearest neighbor (the
positive) with k deterministically hash-sampled negatives drawn from
OUTSIDE the anchor's top-``exclude_top`` neighborhood — the standard
dataset-construction step for contrastive/embedding training, where
negatives must be genuinely unrelated (excluding the near-neighborhood
avoids false negatives) yet reproducible run to run.

Scale design:
- the positive side reuses the brute-force scoring scan
  (operators.similarity.brute_force_topk — broadcast anchors, one
  scoring pass, per-anchor TakeOrdered);
- the negative pool is PRE-PRUNED by a deterministic Knuth-style hash
  predicate with a corpus-count-derived denominator (the same
  ``greatest(1, n // target)`` auto-denominator pattern as IVF sampled
  training, mirrored into the oracle's SQL), so the per-anchor
  priority sort runs over an expected ~``NEG_POOL_TARGET`` survivors,
  not the whole corpus — without the prefilter the row_number window
  would sort corpus-sized partitions per anchor;
- sampling priority is the md5-portable hash of (anchor, candidate),
  so the drawn negatives are a pure function of the ids — resumable,
  engine-reproducible, and independent per anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tok_hash_portable_sql
from .similarity import brute_force_topk

#: expected negative-pool survivors per anchor after the hash
#: prefilter: denom = max(1, corpus_n // NEG_POOL_TARGET) keeps the
#: per-anchor sort ~this size at any corpus scale
NEG_POOL_TARGET = 320


def neg_pool_denom(n_rows: int) -> int:
    """Corpus-count-derived prefilter denominator — mirrored verbatim
    by the oracle's ``greatest(1, count(*) // NEG_POOL_TARGET)``."""
    return max(1, n_rows // NEG_POOL_TARGET)


def contrastive_triplets(
    vectors: DataFrame,
    anchors: DataFrame,
    k_neg: int = 5,
    exclude_top: int = 50,
) -> DataFrame:
    """(anchor_id, positive_id, positive_cosine, negative_id,
    neg_rank ≤ k_neg): positive = exact cosine rank-1 neighbor;
    negatives = the k_neg smallest hash priorities among candidates
    outside the anchor's top-``exclude_top`` ranking (and outside the
    anchor itself), per the module docstring."""
    n = vectors.count()  # one cheap job; fixes the prefilter denom
    denom = neg_pool_denom(n)
    top = brute_force_topk(vectors, anchors, k=exclude_top)
    pos = top.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("anchor_id"),
        F.col("neighbor_id").alias("positive_id"),
        F.col("cosine").alias("positive_cosine"),
    )
    a = anchors.select(F.col("vec_id").alias("anchor_id"))
    cand = vectors.select(F.col("vec_id").alias("cand_id"))
    pri = F.expr(
        tok_hash_portable_sql(
            "concat(CAST(anchor_id AS STRING), ':', CAST(cand_id AS STRING))"
        )
    )
    pool = (
        cand.crossJoin(F.broadcast(a))
        .filter(F.col("cand_id") != F.col("anchor_id"))
        .filter((pri % denom) == 0)
        .join(
            F.broadcast(
                top.select(
                    F.col("query_id").alias("anchor_id"),
                    F.col("neighbor_id").alias("cand_id"),
                )
            ),
            ["anchor_id", "cand_id"],
            "left_anti",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(pri.alias("__pri"), "cand_id")
    neg = (
        pool.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= k_neg)
        .select("anchor_id", F.col("cand_id").alias("negative_id"), "neg_rank")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "positive_cosine",
        "negative_id",
        "neg_rank",
    )
