"""BM25 keyword retrieval over the documents corpus — the lexical
half of a training-data search stack (the embedding half is
operators.similarity). Reference scope: the reference engine's query
surface is key/predicate scans (core.clj:86-99); ranked full-text
retrieval is part of the LLM-pipeline extension family.

Design for 100 TB:
- per-document term frequencies and length are ONE projection over the
  corpus (``size(filter(split(...)))`` per query term — JVM built-ins,
  no explode, no shuffle);
- corpus statistics (N, Σdl, per-term df) are one partial-aggregating
  job collecting a single row; idf and avgdl are computed driver-side
  and injected as repr-exact literals (the EWMA-weights pattern), so
  scoring is a stateless scan — at scale the statistics job is
  amortized across every query that reuses the corpus snapshot, which
  is exactly how production BM25 ships (precomputed term statistics);
- scoring + global top-k: one expression per document, then
  ``orderBy(...).limit(k)`` — Spark executes TakeOrdered (per-partition
  heaps + driver merge of k×partitions rows), never a full sort.

Determinism: idf uses :func:`..functions.detmath.det_ln` — JVM and
libm ``ln`` disagree at 1 ulp on ~8% of this domain, so the engine
computes a fixed-order series ln that Python (driver), Spark, and the
DuckDB oracle reproduce bit for bit. All other score arithmetic is
emitted as ONE SQL string with CAST-string double literals, shared
verbatim (modulo tf/dl column sourcing) with the oracle generator
(plans.text_queries.text_bm25_topk_sql), so the final double is
hash-gate exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.detmath import det_ln
from ..functions.sqltext import sql_double_lit, sql_str_lit

#: Okapi BM25 defaults (Robertson et al.); repr-exact on both engines
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_score_sql(idfs: list[str], avgdl: str) -> str:
    """The BM25 score as one SQL expression over per-document columns
    ``tf_0..tf_{m-1}`` (BIGINT) and ``dl`` (BIGINT) — fixed term order,
    explicit parenthesization, CAST-string literals, so Spark and
    DuckDB evaluate the identical IEEE operation sequence.
    ``idfs``/``avgdl`` are SQL snippets: repr literals on the Spark
    side (driver-computed), column references in the oracle (SQL-
    computed via the det-ln CTE chain) — same bits either way."""
    k1p1 = sql_double_lit(BM25_K1 + 1.0)
    k1l = sql_double_lit(BM25_K1)
    omb = sql_double_lit(1.0 - BM25_B)
    bl = sql_double_lit(BM25_B)
    terms = [
        f"(({idf}) * ((CAST(tf_{i} AS DOUBLE) * {k1p1})"
        f" / (CAST(tf_{i} AS DOUBLE) + ({k1l} * ({omb} + ({bl}"
        f" * (CAST(dl AS DOUBLE) / ({avgdl}))))))))"
        for i, idf in enumerate(idfs)
    ]
    score = terms[0]
    for t in terms[1:]:
        score = f"({score} + {t})"
    return score


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Rank ``(doc_id, text)`` documents by Okapi BM25 (``BM25_K1``,
    ``BM25_B``) for a bag-of-terms query; returns
    (doc_id, score, rank ≤ k), ties broken by doc_id. idf is the BM25+
    form ln(1 + (N - df + ½)/(df + ½)) — non-negative for every df.

    Terms are spliced into generated SQL (this plan AND the shared
    oracle text) as escaped literals (functions.sqltext.sql_str_lit) —
    a quote in a query term must never become plan syntax."""
    toks = "filter(split(text, ' '), x -> x <> '')"  # non-empty tokens
    sel = [
        F.col("doc_id"),
        F.expr(f"size({toks})").cast("long").alias("dl"),
    ]
    for i, t in enumerate(terms):
        sel.append(
            F.expr(f"size(filter({toks}, x -> x = {sql_str_lit(t)}))")
            .cast("long")
            .alias(f"tf_{i}")
        )
    dtf = docs.select(*sel)
    aggs = [F.count("*").alias("n"), F.sum("dl").alias("sdl")]
    for i in range(len(terms)):
        aggs.append(
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
        )
    st = dtf.agg(*aggs).collect()[0]
    n = int(st["n"])
    avgdl = float(int(st["sdl"])) / float(n)
    # same expression structure as the oracle's idf-input CTE
    idfs = [
        sql_double_lit(
            det_ln(
                ((float(n - int(st[f"df_{i}"])) + 0.5)
                 / (float(int(st[f"df_{i}"])) + 0.5)) + 1.0
            )
        )
        for i in range(len(terms))
    ]
    scored = dtf.select(
        "doc_id",
        F.expr(bm25_score_sql(idfs, sql_double_lit(avgdl))).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), "doc_id").limit(k)
    w = W.orderBy(F.desc("score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


#: Reciprocal Rank Fusion constant (Cormack, Clarke & Buettcher 2009):
#: 60 damps the head so a mid-list consensus doc can beat a doc one
#: ranking places first and the other misses entirely
RRF_C = 60


def rrf_fuse(lex: DataFrame, sem: DataFrame, k: int = 20) -> DataFrame:
    """Reciprocal Rank Fusion of a lexical and a semantic ranking —
    the standard score-free way to combine BM25 with embedding ANN
    (hybrid search). Inputs are (doc_id, rank) frames; output is
    (doc_id, rrf_score, lex_rank, sem_rank, rank ≤ k) with
    rrf_score = Σ 1/(RRF_C + rankᵢ) over the rankings that contain the
    doc.

    Scale: both inputs are top-K rankings (k×partitions rows at most —
    the expensive work happened upstream in the BM25 scan and the ANN
    scan), so the full-outer merge is a trivially small join; Spark
    plans it as a broadcast under AQE. Determinism: each contribution
    is one IEEE division of exactly-representable integers and the two
    contributions are added once (two-operand FP addition is
    commutative, so join-side order can't change the bits); emitted as
    one server-parsed SQL expression shared in shape with the DuckDB
    oracle (plans.text_queries.text_hybrid_rrf_topk_sql)."""
    l = lex.select("doc_id", F.col("rank").alias("lex_rank"))
    s = sem.select("doc_id", F.col("rank").alias("sem_rank"))
    fused = l.join(s, on="doc_id", how="full_outer").select(
        "doc_id",
        F.expr(
            f"(COALESCE(CAST('1.0' AS DOUBLE)"
            f" / CAST({RRF_C} + lex_rank AS DOUBLE), CAST('0.0' AS DOUBLE))"
            f" + COALESCE(CAST('1.0' AS DOUBLE)"
            f" / CAST({RRF_C} + sem_rank AS DOUBLE), CAST('0.0' AS DOUBLE)))"
        ).alias("rrf_score"),
        "lex_rank",
        "sem_rank",
    )
    top = fused.orderBy(F.desc("rrf_score"), "doc_id").limit(k)
    w = W.orderBy(F.desc("rrf_score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))
