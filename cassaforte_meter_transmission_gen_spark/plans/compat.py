"""Oracle-parity helpers shared by catalog queries.

Exact money/double aggregation: summing doubles is order-dependent in
the last bits, and Spark sums in parallel while DuckDB sums serially —
so both sides cast to DECIMAL first (exact, commutative) and cast the
total back to DOUBLE. ``DECIMAL(18,6)`` holds every corpus money value
and product with headroom; the double→decimal rounding of the *same*
IEEE double is identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dec_sum(col: Column) -> Column:
    """Order-independent exact sum of a double expression → double."""
    return F.sum(col.cast(DEC)).cast("double")


def dec_avg(col: Column) -> Column:
    """Exact-sum average → double (sum_decimal / count)."""
    return (F.sum(col.cast(DEC)).cast("double") / F.count(col)).alias("avg")


def sql_dec_sum(expr: str) -> str:
    """DuckDB text mirror of :func:`dec_sum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def sql_ntile_from_rank(rank0: str, n: int, k: int) -> str:
    """SQL ``ntile(k)`` as pure integer arithmetic over a 0-based
    global rank column: ntile puts the larger buckets FIRST — the first
    ``n % k`` buckets hold ``n // k + 1`` rows, the rest ``n // k``.
    (The tempting closed form ``rank0*k DIV n + 1`` equals ntile only
    when ``k`` divides ``n`` — property-tested against DuckDB's ntile
    in tests/test_properties.py.) Valid for any n ≥ 1; when k > n the
    else-branch is unreachable (divisor clamped to keep the expression
    well-formed)."""
    q, rem = divmod(n, k)
    threshold = rem * (q + 1)
    return (
        f"CAST(CASE WHEN {rank0} < {threshold} THEN {rank0} DIV {q + 1} "
        f"ELSE {rem} + ({rank0} - {threshold}) DIV {max(q, 1)} END AS INT) + 1"
    )


def monotone_money_key(df, money_col: str, id_col: str, n_bounds: int = 0):
    """Collision-free monotone int64 order key over (money, id) for the
    bucketed global prefix-sum rank: ``round(money*100) * M + id`` with
    ``M = max(id) + 1`` DERIVED from the data — a fixed multiplier
    (the old 1e6/1e8 literals) silently collides once ids cross it,
    and a collision violates global_running_total's unique-key
    precondition, corrupting every downstream ntile/decile/gini rank
    with no error. One narrow agg derives M and also returns the row
    count the rank→bucket maps need (replacing the separate count()
    the call sites used to pay). Returns ``(key_column, n_rows)``.

    ``n_bounds=k`` (r15, guide §5: the driver should block on as few
    jobs as possible) additionally returns key-space bucket boundaries
    — ``(key_column, n_rows, bounds)`` — derived via
    ``approx_percentile`` of the money grid value IN THE SAME one-row
    agg, so the downstream :func:`..operators.packing.
    global_running_totals` call skips its separate ``approxQuantile``
    driver job: ONE driver-blocking job before the output job instead
    of two. Boundaries are quantiles of money alone (ties on money all
    land in one bucket) — order-monotone in (money, id), and boundary
    placement only affects load balance, never results (packing module
    docstring), so this is plan-shape-only.

    Preconditions enforced loud: ids non-negative (a negative id would
    break the per-money-value ordering), and the extreme key must fit
    exact int64 — otherwise ValueError, never a wrong rank. Assumes
    ``money_col`` sits on the 0.01 grid (exact under *100, true for
    every money column in the corpus schema)."""
    mgrid = F.round(F.col(money_col) * 100).cast("long")
    aggs = [
        F.count("*").alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
        F.max(F.abs(mgrid)).alias("ma"),
    ]
    # one boundary per split point: none for n_bounds ≤ 1 (one bucket)
    probs = [i / n_bounds for i in range(1, n_bounds)]
    if probs:
        # accuracy 1000 ≈ approxQuantile(relativeError 0.001): balance
        # only — see the packing module docstring
        aggs.append(
            F.percentile_approx(
                mgrid, F.array(*[F.lit(p) for p in probs]), F.lit(1000)
            ).alias("qs")
        )
    row = df.agg(*aggs).head()
    n = int(row["n"] or 0)
    if n == 0:
        return (F.lit(0).cast("long"), 0, []) if n_bounds else (
            F.lit(0).cast("long"),
            0,
        )
    if row["lo"] < 0:
        raise ValueError(
            f"monotone_money_key: negative {id_col} (min={row['lo']}) "
            "breaks the (money, id) ordering"
        )
    mult = int(row["hi"]) + 1
    if (int(row["ma"]) + 1) * mult > (1 << 63) - 1:
        raise ValueError(
            f"monotone_money_key: |round({money_col}*100)| up to {row['ma']} "
            f"with multiplier {mult} would overflow int64"
        )
    key = mgrid * F.lit(mult) + F.col(id_col)
    if not n_bounds:
        return (key, n)
    # money-grid quantile q → key-space boundary q*M: every key with
    # money > q sits above it, every key with money < q below — rows
    # AT q land in the upper bucket (b < key holds once id ≥ 0 ...
    # except id = 0; either side is fine, balance-only)
    bounds = [float(int(q) * mult) for q in (row["qs"] or [])] if probs else []
    return (key, n, bounds)
