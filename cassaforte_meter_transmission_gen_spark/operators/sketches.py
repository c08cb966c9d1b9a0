"""Count-min sketch: mergeable frequency estimation (SURVEY §2.10
sketch family, beside the HLL distinct-count and KLL quantile rollups
in plans.analytics_queries).

The CMS is the counter-table philosophy of the reference (insert-time
pre-aggregation, core.clj:122-153) applied to per-key frequencies when
the key universe is too large for one counter per key: a fixed
``depth × width`` grid of integer counters, each occurrence
incrementing one counter per row (hashed column). Point estimates are
the MIN over the key's ``depth`` counters — never an underestimate,
overestimating only by collision mass (≈ N/width per row before the
min). Two properties make it the 100 TB shape:

- **fixed size**: the grid is depth·width longs regardless of key
  cardinality — map-side partial aggregation shrinks every task's
  contribution to at most that many rows before the (r, c) shuffle;
- **mergeable**: grids over disjoint slices (days, streams, shards)
  sum cell-wise into the grid of the union — the same associativity
  that makes the minute/hour/day counter chain exact, so per-day CMS
  rollup tables compose exactly like the reference's counters.

Unlike the JVM Datasketches HLL (whose estimate bytes are
engine-specific, so those oracles pin bounds rather than values), the
CMS here is built on the md5-portable hash — counters, estimates, and
merge results are bit-identical in DuckDB, so the whole sketch is
value-hash gated end to end."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tok_hash_portable_sql

CMS_DEPTH = 4
CMS_WIDTH = 1024  # power of two; expected collision mass ≈ N/width


def _cms_col_sql(row: int, key_sql: str, width: int) -> str:
    """Counter column for hash row ``row``: the md5-portable 60-bit
    hash of 'row:key', reduced mod width — one independent hash
    function per grid row, reproducible across engines."""
    h = tok_hash_portable_sql(f"'{row}:' || CAST({key_sql} AS STRING)")
    return f"CAST({h} % {width} AS INT)"


def _cms_stack_sql(key_col: str, width: int) -> str:
    """The key's ``CMS_DEPTH`` cells as a ``stack(...) AS (r, c)``."""
    from ..functions.sqltext import safe_ident

    key_col = safe_ident(key_col)  # spliced into generated SQL
    cells = ", ".join(
        f"{r}, {_cms_col_sql(r, key_col, width)}" for r in range(CMS_DEPTH)
    )
    return f"stack({CMS_DEPTH}, {cells}) AS (r, c)"


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = CMS_WIDTH,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sketch the frequencies of ``key_col``: one pass, one stack into
    (r, c) cells, one grouped count — the shuffle carries at most
    CMS_DEPTH·width rows per task thanks to partial aggregation. With
    ``group_cols`` (e.g. a day column) it emits one grid per group:
    the sketch-rollup-table layout."""
    return (
        df.selectExpr(*group_cols, _cms_stack_sql(key_col, width))
        .groupBy(*group_cols, "r", "c")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_merge(grids: DataFrame) -> DataFrame:
    """Merge grids across whatever extra dimensions ``cms_build`` kept
    (days, shards): cell-wise sum — exact by associativity, the same
    algebra as the counter rollup chain."""
    return (
        grids.groupBy("r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimate(
    grid: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-estimate each key in ``keys`` (all its columns are carried
    through): probe the key's ``CMS_DEPTH`` cells with one left join on
    (r, c) — the grid side is at most CMS_DEPTH·width rows, so Spark
    broadcasts it — and take the min counter (0 for a never-seen key).
    Output: keys' columns + ``cms_estimate``."""
    carry = list(keys.columns)
    probes = keys.selectExpr(*carry, _cms_stack_sql(key_col, width))
    return (
        probes.join(F.broadcast(grid), ["r", "c"], "left")
        .groupBy(*carry)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(
                "cms_estimate"
            )
        )
    )


# --- KMV (k-minimum-values) distinct sketch ---

KMV_K = 256
# the md5-portable hash is 15 hex digits = 60 bits, uniform on [0, 16^15)
KMV_DOMAIN = 16**15


def kmv_hash_expr(key_sql: str) -> str:
    """The md5-portable 60-bit hash of the key expression — the same
    construction as the CMS rows (one engine-reproducible uniform hash),
    minus the row prefix: KMV needs a single hash function."""
    return tok_hash_portable_sql(f"CAST({key_sql} AS STRING)")


def kmv_sketch(df: DataFrame, key_sql: str, k: int = KMV_K) -> DataFrame:
    """The k smallest distinct hash values of ``key_sql`` over ``df`` —
    a fixed-size, MERGEABLE distinct-count sketch: the k smallest of a
    union is a subset of the union of per-slice k-smallest, so sketches
    of disjoint shards merge by union + re-take-k (:func:`kmv_merge`).

    Scale shape: distinct-of-hash partial-aggregates map-side, and the
    k-smallest selection is a TakeOrdered (per-partition top-k, then a
    single k-row merge) — never a single-partition global-sort window.
    ``key_sql`` is plan-authored SQL text (a column or expression built
    by catalog code, never user data — the sqltext.py splice rules).
    Output column: ``h``."""
    h = F.expr(kmv_hash_expr(key_sql))
    return df.select(h.alias("h")).distinct().orderBy("h").limit(k)


def kmv_merge(sketches: DataFrame) -> DataFrame:
    """Union sketch from a stack of per-slice sketches (column ``h``):
    dedupe and re-take the ``KMV_K`` smallest."""
    return sketches.distinct().orderBy("h").limit(KMV_K)


def kmv_estimate_col(n_col, max_h_col, k: int = KMV_K):
    """Distinct-count estimate from (sketch size, k-th smallest hash):
    exact when the set had fewer than k distinct values (the sketch IS
    the value set), else the classic (k-1)·D / h_(k) estimator. Pure
    double arithmetic on exactly-representable literals → bit-identical
    across engines; floor-then-cast per the catalog convention."""
    return F.when(n_col < k, n_col).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(float(KMV_DOMAIN)) / max_h_col)
    ).cast("long")


# --- hash-sample quantile sketch (mergeable bounded row sample) ---

QSK_K = 512


def quantile_sample_sketch(
    df: DataFrame, key_sql: str, value_sql: str, k: int = QSK_K
) -> DataFrame:
    """(h, v): the ``k`` rows whose ROW KEY has the smallest
    md5-portable hash, carrying the value expression — a fixed-size,
    MERGEABLE uniform row sample for quantile estimation (the KMV move
    applied to order statistics: the k hash-smallest rows of a union
    are a subset of the union of per-slice k-smallest, so per-shard /
    per-day sketches merge by union + re-take-k and the merged sample
    is exactly the sample a single global pass would draw).

    This is the mergeable-quantile scale path next to the exact
    equi-depth machinery (plans.analytics_queries
    agg_equidepth_price_deciles): O(k) state per slice, one
    TakeOrdered pass to build, never a global sort. ``key_sql`` must
    be row-unique (hash ties broken by (h, v) order for determinism);
    both it and ``value_sql`` are plan-authored SQL text (sqltext.py
    splice rules). Output columns: ``h``, ``v``."""
    h = F.expr(kmv_hash_expr(key_sql))
    return (
        df.select(h.alias("h"), F.expr(value_sql).alias("v"))
        .orderBy("h", "v")
        .limit(k)
    )


def quantile_sample_merge(sketches: DataFrame, k: int = QSK_K) -> DataFrame:
    """Union sample from a stack of per-slice sketches (columns
    ``h, v``) over DISJOINT slices: re-take the k hash-smallest."""
    return sketches.orderBy("h", "v").limit(k)


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters: the two-pass EXACT protocol
# ---------------------------------------------------------------------------


def misra_gries_candidates(
    df: DataFrame, key_col: str, k: int
) -> DataFrame:
    """Pass 1 of exact heavy hitters: per-partition Misra–Gries summary
    with ``k`` counters over ``key_col``.

    Guarantee (Misra–Gries 1982; merge form per Agarwal et al.,
    "Mergeable Summaries", PODS'12): every key with partition frequency
    > n_p/(k+1) survives the partition's summary, so any key with
    GLOBAL frequency > n/(k+1) survives in at least one partition (an
    averaging argument) — the union of per-partition candidates is a
    superset of the true heavy hitters at support 1/(k+1). Pass 2
    (:func:`heavy_hitters_exact`) then counts ONLY the candidates
    exactly, so the final answer is exact, not approximate.

    Vectorization: rows are never visited one at a time in Python —
    each Arrow batch is collapsed to exact counts by pandas
    ``value_counts`` (C speed), and the *summary-level* MG merge (add
    counts, subtract the (k+1)-th largest, drop ≤0) touches only the
    ≤ k + distinct(batch) live counters. At 100 TB each task emits at
    most k+1 rows regardless of input size, so the candidate relation
    is ~k × tasks rows — always broadcastable.

    Output: one row per candidate (``key``) plus one sentinel row
    (``key`` NULL, ``part_rows`` = partition row count) per partition,
    so pass 2 recovers the exact global total without a second scan.
    """
    import pandas as pd

    out_schema = f"key {df.schema[key_col].dataType.simpleString()}, part_rows bigint"

    def summarize(batches):
        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            vc = pdf[key_col].value_counts()  # exact, vectorized
            n_rows += int(vc.sum())
            for key, c in vc.items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                # MG merge step: subtract the (k+1)-th largest count
                # from everything; at most k counters stay positive
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {c_k: v - sub for c_k, v in counters.items() if v > sub}
        yield pd.DataFrame(
            {"key": list(counters) + [None], "part_rows": [0] * len(counters) + [n_rows]}
        )

    return df.select(key_col).mapInPandas(summarize, schema=out_schema)


def heavy_hitters_exact(
    df: DataFrame, key_col: str, inv_support: int
) -> DataFrame:
    """Exact heavy hitters at support 1/``inv_support`` in two passes:
    MG candidates (pass 1, ≤ ``inv_support`` counters/task) → exact
    count of the candidate keys only (pass 2) → integer-compare filter
    ``count * inv_support > total``. The second pass groups only rows
    whose key is in the broadcast candidate set — at 100 TB the shuffle
    carries the heavy tail, never the long tail. Returns
    (``key_col``, ``exact_count``), exact by the MG superset guarantee.
    """
    summary = misra_gries_candidates(df, key_col, k=inv_support)
    summary = summary.localCheckpoint(eager=True)  # one pass, two readers
    # Reserved alias: if key_col is itself named "key", an unaliased
    # join condition would be ambiguous (both sides carry "key").
    candidates = (
        summary.filter(F.col("key").isNotNull())
        .select(F.col("key").alias("__hh_key"))
        .distinct()
    )
    total = summary.agg(F.sum("part_rows").alias("total"))
    return (
        df.join(F.broadcast(candidates), df[key_col] == F.col("__hh_key"), "inner")
        .drop("__hh_key")
        .groupBy(key_col)
        .agg(F.count("*").alias("exact_count"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") * inv_support > F.col("total"))
        .select(key_col, "exact_count")
    )
