"""Sequence packing for training-data pipelines (SURVEY §2.10 family):
assign documents to fixed token-budget packs in a deterministic global
order — the step between "clean corpus" and "training batches".

The core primitive is an exact GLOBAL running total. The naive form is
``sum().over(Window.orderBy(col))`` with no partition key, which Spark
executes on ONE task — the classic 100 TB trap. The scale-correct shape
here is a two-pass prefix sum over DETERMINISTIC range buckets:

1. compute ``n_partitions - 1`` approximate quantile boundaries of the
   order column driver-side (one lightweight Greenwald-Khanna job) and
   bake them into the plan as literals;
2. assign every row a bucket id as a PURE FUNCTION of its order-column
   value (count of boundaries below it) — monotone in the order column,
   so bucket i's rows all precede bucket i+1's;
3. per-bucket partial sums via a window partitioned by bucket id
   (parallel — one hash exchange);
4. per-bucket totals (one tiny row per bucket) are prefix-summed by a
   32-row window and broadcast-joined back IN the same plan — no
   driver collect, so the whole prefix sum is ONE Spark action after
   the boundary sketch (the collect-and-literal-map predecessor cost a
   second driver-blocking job per call; changed r14).

Because the bucket id is a pure function of the data — NOT
``spark_partition_id()`` after a ``repartitionByRange`` — every job and
every task-retry derives the identical assignment. An earlier shape
used physical partition ids and had to ``persist()`` the repartitioned
input to pin reservoir-sampled range boundaries across jobs; that cache
had no release path (blocks accumulated over a long session) and was
fragile under block loss (a recompute could legally re-roll the
boundaries). This form needs no cache at all, and its lineage is safe
to recompute anywhere.

Boundary placement only affects load balance, never correctness: the
result equals the single-task global window for ANY boundaries (prefix
sums are associative and the assignment is order-monotone), so the
DuckDB oracle can use the plain window form while the engine runs the
parallel one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import sql_double_lit


def global_running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    n_partitions: int = 32,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Exact exclusive prefix sum of ``value_col`` in ascending
    ``order_col`` order (out_col = sum of all STRICTLY EARLIER rows) —
    single-column wrapper over :func:`global_running_totals`."""
    return global_running_totals(
        df, order_col, [value_col], [out_col], n_partitions, bounds
    )


def global_running_totals(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    out_cols: list[str],
    n_partitions: int = 32,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Exact exclusive prefix sums of every ``value_cols[i]`` in
    ascending ``order_col`` order (``out_cols[i]`` = sum of all
    STRICTLY EARLIER rows), computed with per-bucket parallelism as
    described in the module docstring. ``order_col`` must be unique
    (it is the global tiebreak) and numeric (bucket boundaries come
    from ``approxQuantile`` unless supplied).

    Multi-column form (r15, guide §2.4): N prefix sums over the SAME
    order share ONE bucket assignment, ONE per-bucket window (Spark
    fuses same-window aggregates into a single Window operator), ONE
    totals aggregate, and ONE broadcast offsets join — the nested
    single-column composition paid the whole two-pass machinery once
    per column. Per-column arithmetic is unchanged (same IEEE/integer
    accumulation sequence per column), so results are bit-equal to the
    nested form.

    ``bounds`` (optional) are precomputed bucket boundaries comparable
    to ``CAST(order_col AS DOUBLE)`` — callers that already run a
    one-row stats aggregate can derive them there (e.g. via
    ``approx_percentile`` in the same agg, see
    plans.compat.monotone_money_key) instead of paying this function's
    separate ``approxQuantile`` driver job (r15, guide §5: one fewer
    driver-blocking job before the output job). Boundary placement
    affects only load balance, never results (module docstring)."""
    if len(value_cols) != len(out_cols):
        raise ValueError(
            f"global_running_totals: {len(value_cols)} value_cols but "
            f"{len(out_cols)} out_cols"
        )
    if bounds is None:
        bounds = []
        if n_partitions > 1:
            probs = [i / n_partitions for i in range(1, n_partitions)]
            # relativeError 0.001: boundary placement affects only
            # balance, so a cheap sketch is enough — exactness buys
            # nothing here
            bounds = sorted(
                set(df.stat.approxQuantile(order_col, probs, 0.001))
            )
    else:
        bounds = sorted(set(float(b) for b in bounds))
    if bounds:
        # bucket = number of boundaries strictly below the value: a pure,
        # order-monotone function of order_col (ties at a boundary all
        # land in the lower bucket), identical in every job that
        # evaluates it. The double cast is monotone, so even precision
        # loss on huge int64 ids cannot break the ordering invariant.
        # One server-parsed expression (r14): the F.lit-per-boundary
        # array cost ~70 py4j round trips per call; the string-cast
        # literals round-trip exactly (repr ↔ parse is lossless for
        # finite doubles), so the plan is byte-identical.
        arr = ", ".join(sql_double_lit(float(b)) for b in bounds)
        pid = F.expr(
            f"size(filter(array({arr}), "
            f"b -> b < CAST(`{order_col}` AS DOUBLE)))"
        )
    else:
        pid = F.lit(0)
    idx = range(len(value_cols))
    parted = df.withColumn("__pid", pid.cast("int"))
    w = Window.partitionBy("__pid").orderBy(order_col)
    local = parted.select(
        "*",
        *[
            (F.sum(value_cols[i]).over(w) - F.col(value_cols[i])).alias(
                f"__local{i}"
            )
            for i in idx
        ],
    )
    # cross-bucket offsets IN-PLAN (r14, guide §2.6/§5): one tiny row
    # per bucket flows through a 32-row running-sum window and comes
    # back as a broadcast join — the old form collected the totals to
    # the driver and baked a literal map, which cost a SECOND
    # driver-blocking job (plan + codegen + collect, measured ~0.5-1.1 s
    # at sf0.1) before the output job could even be planned. The
    # accumulation order is identical (ascending __pid, same IEEE
    # sequence for float sums), so results are bit-equal; the offsets
    # relation stays bounded by the bucket count, never the data.
    totals = parted.groupBy("__pid").agg(
        *[F.sum(value_cols[i]).alias(f"__t{i}") for i in idx]
    )
    sum_types = dict(totals.dtypes)
    # 32-row frame: the single-partition global-order window is exactly
    # the shape global_running_total exists to avoid on DATA — safe
    # here because its input is one row per bucket by construction
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(
                F.sum(f"__t{i}").over(woff),
                F.lit(0).cast(sum_types[f"__t{i}"]),
            ).alias(f"__off{i}")
            for i in idx
        ],
    )
    # defense-in-depth: a bucket id outside the offsets relation means
    # the output branch disagreed with the totals branch about the
    # assignment — impossible for a pure function over the same rows,
    # but if it ever happens (e.g. a nondeterministic upstream), fail
    # LOUDLY instead of emitting NULL/wrong sums
    def _guarded(i: int):
        return F.coalesce(
            F.col(f"__off{i}"),
            F.raise_error(
                F.concat(
                    F.lit("global_running_total: bucket "),
                    F.col("__pid").cast("string"),
                    F.lit(" missing from offsets relation"),
                )
            ).cast(sum_types[f"__t{i}"]),
        )

    out = local.join(F.broadcast(offsets), "__pid", "left").select(
        "*",
        *[
            (F.col(f"__local{i}") + _guarded(i)).alias(out_cols[i])
            for i in idx
        ],
    )
    return out.drop(
        "__pid",
        *[f"__local{i}" for i in idx],
        *[f"__off{i}" for i in idx],
    )


def token_budget_packs(
    docs_with_tokens: DataFrame,
    budget: int,
) -> DataFrame:
    """Greedy contiguous packing: documents in ascending ``doc_id``
    order fill pack 0 until ``budget`` tokens (``n_tokens``) are
    exceeded, then pack 1, and so on —
    ``pack_id = floor(exclusive_prefix_sum / budget)``.
    A document straddling a boundary stays with the pack it started in
    (packs can overflow by at most one document), which keeps the
    assignment a pure per-row function of the prefix sum — no sequential
    state, so it scales as far as the prefix sum does.

    Returns one row per pack: (pack_id, n_docs, pack_tokens,
    first_doc, last_doc)."""
    cum = global_running_total(
        docs_with_tokens, "doc_id", "n_tokens", out_col="__prev"
    )
    return (
        cum.withColumn(
            "pack_id", F.floor(F.col("__prev") / F.lit(budget)).cast("long")
        )
        .groupBy("pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
