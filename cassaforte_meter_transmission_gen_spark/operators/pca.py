"""Distributed PCA over the embedding corpus via exact second moments.

The scalable shape: one pass over the vectors computes the 64×64
second-moment (Gram) matrix upper triangle plus the per-dimension sums
— 2 080 + 64 + 1 numbers regardless of corpus size — then the
eigendecomposition runs driver-side on that fixed-size summary (numpy,
O(d³) on d=64). This is the textbook covariance-method PCA factored for
a cluster: the data-sized work is a partial-aggregated explode (each
task emits ≤2 080 rows), the driver never sees a row of data, and at
100 TB the shuffle is 2 080 rows × tasks. Per-row products are exact
(float32×float32 is exact in double) and summed as DECIMAL so the
moment matrix is order-independent — bit-identical across cluster
sizes, which makes the downstream eigenbasis reproducible too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EMB_DIM

#: pico-unit quantization for exact cross-engine product sums: each
#: float32×float32 product (exact in double) is rounded at 1e-12 IN
#: DOUBLE — the same IEEE multiply+round on both engines — then summed
#: as integers, so the moment matrix hash is exact. (Double→DECIMAL
#: conversion is NOT exact-identical across engines: DuckDB scales in
#: double and can land one ulp off Spark's BigDecimal path.)
MOMENT_SCALE = 1_000_000_000_000

#: rows a single Arrow-kernel task accumulates before flushing a partial
#: 2 080-row frame: |cell| ≤ rows × ~1e12 for unit-scale embeddings, so
#: 4M rows keeps a 2× margin under int64's ~9.2e18 (numpy wraps
#: SILENTLY on overflow — the flush is what makes the kernel safe in
#: the billion-row-task regime it exists for). Module-level so tests
#: can shrink it and exercise the multi-partial merge path.
FLUSH_EVERY_ROWS = 4_000_000


def second_moments_upper(df: DataFrame) -> DataFrame:
    """Upper-triangle second-moment matrix of ``embedding``: one row per
    (i, j), i ≤ j, with ``m2_p12 = Σ round(x_i·x_j·1e12)`` in exact
    pico-units. The per-row product table is built JVM-side as one
    generated ``flatten(transform(...))`` expression — no Python in the
    data path — and the groupBy partial-aggregates to ≤2 080 rows per
    task before the (only) shuffle. Sums carry as DECIMAL(38,0), good
    to ~10^26 row-products — no overflow at any realistic corpus.

    Hot-path shape: the exploded rows are FLAT BIGINTs keyed by their
    array position — the (pos → i, j) decode is a 2 080-row broadcast
    joined AFTER the aggregate, so the per-row data path never builds
    struct arrays (the struct form measured 10.3 s at sf0.1; this
    flat form pushes all pair-index arithmetic off the fact volume)."""
    spark = df.sparkSession
    prods = df.select(
        F.expr(
            f"flatten(transform(sequence(0, {EMB_DIM - 1}), i -> "
            f"transform(sequence(i, {EMB_DIM - 1}), j -> "
            "CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)"
            f" * {MOMENT_SCALE}) AS BIGINT))))"
        ).alias("ps")
    )
    sums = (
        prods.select(F.posexplode("ps").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast("decimal(20,0)")).cast("decimal(38,0)").alias("m2_p12"))
    )
    # position decode: one row evaluates the SAME flatten order with
    # (i, j) payloads — joined onto 2 080 aggregated rows, never data
    pairs = spark.range(1).select(
        F.posexplode(
            F.expr(
                f"flatten(transform(sequence(0, {EMB_DIM - 1}), i -> "
                f"transform(sequence(i, {EMB_DIM - 1}), j -> "
                f"struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j))))"
            )
        ).alias("pos", "p")
    ).select("pos", "p.i", "p.j")
    return sums.join(F.broadcast(pairs), "pos").select("i", "j", "m2_p12")


def first_moments(df: DataFrame) -> DataFrame:
    """Per-dimension sums and the row count — the other half of the
    covariance sufficient statistics. One row out per dimension."""
    return (
        df.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(
                F.expr(f"CAST(round(CAST(x AS DOUBLE) * {MOMENT_SCALE})"
                       f" AS DECIMAL(20,0))")
            )
            .cast("decimal(38,0)")
            .alias("s1_p12"),
            F.count("*").alias("n"),
        )
    )


def pca_top_components(df: DataFrame, k: int = 2):
    """Driver-side eigendecomposition of the covariance assembled from
    the distributed sufficient statistics. Returns
    ``(eigvals_desc, components[k][EMB_DIM], explained_variance_ratio)``.
    The collects are the fixed-size moment summaries (2 080 + 64 rows),
    never data."""
    import numpy as np

    m2 = {
        (r["i"], r["j"]): float(r["m2_p12"]) / MOMENT_SCALE
        for r in second_moments_upper(df).collect()
    }
    fm = first_moments(df).collect()
    n = fm[0]["n"]
    s1 = np.zeros(EMB_DIM)
    for r in fm:
        s1[r["i"]] = float(r["s1_p12"]) / MOMENT_SCALE
    cov = np.zeros((EMB_DIM, EMB_DIM))
    for (i, j), v in m2.items():
        # covariance from moments: E[xy] − E[x]E[y], unbiased n−1 scaling
        c = (v - s1[i] * s1[j] / n) / (n - 1)
        cov[i, j] = cov[j, i] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals = vals[order]
    comps = vecs[:, order].T[:k]
    # sign convention: largest-|coef| entry positive, so the basis is
    # deterministic across LAPACK builds
    for c in comps:
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c *= -1
    ratio = vals[:k] / vals.sum()
    return vals, comps, ratio


def _round_half_away_int64(x):
    """EXACT vectorized HALF_UP (round half away from zero) — bit-equal
    to Spark's ``round(double)`` (BigDecimal HALF_UP on the exact
    decimal of the double) for |x| < 2^52: ``floor(|x|)`` is exact,
    ``|x| − floor(|x|)`` is exact (subtraction of numbers within 1 of
    each other), so the ≥ 0.5 test decides ties exactly — unlike
    ``np.rint`` (half-to-even) or ``trunc(x + 0.5)`` (the +0.5 can
    round across an integer boundary at magnitudes where ulp > 1e-16)."""
    import numpy as np

    a = np.abs(x)
    q = np.floor(a)
    r = q + (a - q >= 0.5)
    return (np.sign(x) * r).astype(np.int64)


def second_moments_upper_arrow(df: DataFrame) -> DataFrame:
    """The Gram kernel done the way a native engine would: per Arrow
    batch, one numpy outer-product accumulation (C speed) into a 64×64
    int64 grid of exact pico-unit products — each task emits exactly
    2 080 partial rows regardless of input size, and the only shuffle
    carries 2 080 × tasks rows. Bit-equal to :func:`second_moments_upper`
    (unit-asserted): the quantizer replays the JVM's HALF_UP exactly,
    and products/scaling run in the same double operation order. The
    JVM-expression form measured 8.1 s steady-state at sf0.1 (10.4 M
    exploded rows through the aggregate); this form is bounded by the
    Arrow transfer of the raw vectors. Chunked at 1 024 rows so the
    (c, 64, 64) product tensor stays ~33 MB.

    Overflow safety: pico-unit products of unit-scale embeddings are
    ~1e12 per row, so an int64 cell wraps SILENTLY (numpy raises
    nothing) after ~9.2e6 rows in one task — exactly the large-task
    regime this kernel exists for. The accumulator therefore FLUSHES a
    partial 2 080-row frame and zeroes itself every
    ``FLUSH_EVERY_ROWS`` rows; the downstream DECIMAL(38,0) sum merges
    partials, so task output grows only by (rows/4M) × 2 080 rows —
    still summary-sized — and no cell can ever exceed ~4e18 < 2^63."""
    import numpy as np
    import pandas as pd

    flush_every = FLUSH_EVERY_ROWS
    iu = np.triu_indices(EMB_DIM)

    def _frame(acc):
        return pd.DataFrame(
            {
                "i": iu[0].astype("int64"),
                "j": iu[1].astype("int64"),
                "part_p12": acc[iu],
            }
        )

    def gram(batches):
        acc = np.zeros((EMB_DIM, EMB_DIM), dtype=np.int64)
        since_flush = 0
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            for lo in range(0, len(x), 1024):
                c = x[lo : lo + 1024]
                p = c[:, :, None] * c[:, None, :]
                p *= float(MOMENT_SCALE)
                acc += _round_half_away_int64(p).sum(axis=0)
                since_flush += len(c)
                if since_flush >= flush_every:
                    yield _frame(acc)
                    acc = np.zeros((EMB_DIM, EMB_DIM), dtype=np.int64)
                    since_flush = 0
        yield _frame(acc)

    return (
        df.select("embedding")
        .mapInPandas(gram, schema="i long, j long, part_p12 long")
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("part_p12").cast("decimal(20,0)"))
            .cast("decimal(38,0)")
            .alias("m2_p12")
        )
    )
