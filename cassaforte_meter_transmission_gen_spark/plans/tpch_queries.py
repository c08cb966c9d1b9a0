"""General analytic catalog over the driver's TPC-H-ish corpus.

The reference has no joins (SURVEY §2.4 — it denormalizes instead), but
the engine exposes the full Spark-native join/agg surface; these queries
are the coverage evidence, shaped after classic TPC-H patterns adapted
to the corpus's reduced schema (no partsupp/phone/comment columns).

Scale notes applying throughout:
- dimension joins (region/nation/customer/supplier/part) are explicitly
  ``F.broadcast`` — at 100 TB the fact side never shuffles for these;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key, which is
  also the natural bucketing key for a stored layout;
- every aggregate is partial-aggregated map-side by Catalyst before the
  shuffle (hash agg), and AQE coalesces post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.spread import spread_small_scan
from ..schemas import load_table
from .catalog import register
from .compat import DEC, dec_sum, sql_dec_sum


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _fact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fact-table read with the small-file scan-parallelism guard
    (functions.spread): the corpus ships each table as ONE small
    one-row-group parquet file, so every narrow pipeline stacked on the
    scan — broadcast-join probes, decimal casts, partial aggregation —
    ran on a single core. The guard is metadata-gated: at 100 TB the
    fact table arrives as many files and this is a structural no-op.
    Dimension tables stay unspread — they broadcast anyway."""
    return spread_small_scan(load_table(spark, sf_dir, name))


# --- Q1: pricing summary (scan + filter + wide aggregation) ---

@register(
    "q01_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dec_sum("l_quantity")} AS sum_qty,
       {sql_dec_sum("l_extendedprice")} AS sum_base_price,
       {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {sql_dec_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {sql_dec_sum("l_quantity")} / count(*) AS avg_qty,
       {sql_dec_sum("l_extendedprice")} / count(*) AS avg_price,
       {sql_dec_sum("l_discount")} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("tpch", "agg"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass scan with the shipdate predicate
    pushed to parquet and eight aggregates in one hash-agg (verify with
    .explain: PushedFilters + partial/final HashAggregate)."""
    # aggregates as server-parsed strings (r14 build-latency pass; same
    # trees, ~8 py4j round trips instead of ~50)
    l = _fact(spark, sf_dir, "lineitem").where(
        "l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)"
    )
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (1 + l_tax)"
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(f"{sql_dec_sum('l_quantity')}").alias("sum_qty"),
        F.expr(f"{sql_dec_sum('l_extendedprice')}").alias("sum_base_price"),
        F.expr(f"{sql_dec_sum(disc_price)}").alias("sum_disc_price"),
        F.expr(f"{sql_dec_sum(f'({charge})')}").alias("sum_charge"),
        F.expr(f"{sql_dec_sum('l_quantity')} / COUNT(*)").alias("avg_qty"),
        F.expr(f"{sql_dec_sum('l_extendedprice')} / COUNT(*)").alias(
            "avg_price"
        ),
        F.expr(f"{sql_dec_sum('l_discount')} / COUNT(*)").alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- Q3: shipping priority (3-way join + top-k) ---

@register(
    "q03_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("tpch", "join", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is broadcast (small dim); orders⋈lineitem
    is the only shuffle join. Top-k plans as TakeOrderedAndProject —
    no global sort materialization. Tie-break on l_orderkey keeps the
    LIMIT deterministic."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- Q5: local supplier volume (5-way join) ---

@register(
    "q05_local_supplier_volume",
    oracle=f"""
SELECT n_name, {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
    tags=("tpch", "join"),
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six tables; supplier/nation/region broadcast, the
    compound join condition (suppkey + same-nation) expressed directly."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --- Q6: forecasting revenue change (pure filter + agg) ---

@register(
    "q06_forecast_revenue",
    oracle=f"""
SELECT {sql_dec_sum("l_extendedprice * l_discount")} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch", "filter"),
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: all four predicates push to the parquet scan;
    the whole query is one codegen stage + scalar agg."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --- Q10: returned items (join + group + top-k) ---

@register(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("tpch", "join", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned items in a quarter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- Q13: customer order-count distribution (outer join + double group) ---

@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
    tags=("tpch", "join", "outer"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join keeps order-less customers
    (count(o_orderkey) skips nulls → 0 bucket), then a second
    aggregation over the first's output."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# --- Q14: promotion effect (conditional aggregation ratio) ---

@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT 100.0 * {sql_dec_sum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
       / {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
""",
    tags=("tpch", "join", "conditional-agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation; part is broadcast."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * dec_sum(promo) / dec_sum(disc_price)).alias(
                "promo_revenue_pct"
            ),
            F.count("*").alias("n_items"),
        )
    )


# --- Q18: large-volume customers (agg-filter + join) ---

@register(
    "q18_large_volume_customers",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {sql_dec_sum("l_quantity")} AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    tags=("tpch", "join", "having"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: the HAVING subquery becomes an aggregated
    key-set semi-joined to the fact — at scale this is a shuffle on
    l_orderkey reused by both the filter agg and the outer join (AQE
    can reuse the exchange)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        l.join(big.withColumnRenamed("l_orderkey", "bk"), F.col("l_orderkey") == F.col("bk"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dec_sum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- Q19: disjunctive predicates (OR-of-ANDs pushdown) ---

@register(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1  AND l_quantity <= 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
""",
    tags=("tpch", "join", "predicate"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    still pushes the common parts and broadcasts part."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --- Q22-ish: idle wealthy customers (scalar subquery + anti join) ---

@register(
    "q22_idle_customers",
    oracle=f"""
SELECT c_nationkey,
       count(*) AS numcust,
       {sql_dec_sum("c_acctbal")} AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT {sql_dec_sum("c_acctbal")} / count(*) FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
""",
    tags=("tpch", "subquery", "anti-join"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (computed once,
    broadcast as a literal-like one-row plan) + anti join against
    orders (null-safe NOT EXISTS semantics via left_anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((dec_sum(F.col("c_acctbal")) / F.count("c_acctbal")).alias("thr"))
    )
    return (
        c.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dec_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


# --- join-type coverage beyond the TPC-H shapes ---

@register(
    "join_semi_shipped_orders",
    oracle="""
SELECT o_orderstatus, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
)
GROUP BY o_orderstatus
""",
    tags=("join", "semi"),
)
def join_semi_shipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders with any late-2001 shipment."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


#: bloom width for the urgent-orders key set: 2^18 bits = 4096 literal
#: longs (~32 KB of plan), keeping the k=2 FPR ≈ 4% at sf0.1's ~30k keys
BLOOM_JOIN_BITS = 1 << 18


@register(
    "join_bloom_pruned_semi_revenue",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag, l_linestatus
""",
    tags=("join", "semi", "bloom", "scale"),
)
def join_bloom_pruned_semi_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi join with bloom pre-pruning (operators.bloom): revenue of
    lineitems belonging to urgent orders. The bloom filter built from
    the urgent order keys prunes the fact side BEFORE its join
    exchange (the 100 TB shuffle-bytes lever); the trailing exact semi
    join removes false positives, so the result — and therefore the
    oracle — is exactly the plain semi join. Bloom membership is one
    server-parsed pure-integer expression over the md5-portable hash;
    the measured pruned fraction is a bench stat, not a claim."""
    from ..operators.bloom import bloom_semi_join

    l = _t(spark, sf_dir, "lineitem")
    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(l, keys, "l_orderkey", n_bits=BLOOM_JOIN_BITS)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_anti_customers_no_orders",
    oracle="""
SELECT c_nationkey, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
""",
    tags=("join", "anti"),
)
def join_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no urgent orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "join_broadcast_supplier_geo",
    oracle="""
SELECT r_name, count(*) AS n_suppliers, CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    tags=("join", "broadcast"),
)
def join_broadcast_supplier_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained broadcast joins (dim⋈dim⋈fact) — zero shuffles on
    the supplier side until the final tiny aggregation."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            dec_sum(F.col("s_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "join_full_outer_nation_presence",
    oracle="""
WITH cn AS (SELECT c_nationkey AS k, count(*) AS n_customers FROM customer GROUP BY 1),
     sn AS (SELECT s_nationkey AS k, count(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT COALESCE(cn.k, sn.k) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
""",
    tags=("join", "outer"),
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with COALESCE'd keys."""
    c = _t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count("*").alias("n_customers")
    )
    s = _t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        c.join(s, c.k == s.k, "full_outer")
        .select(
            F.coalesce(c.k, s.k).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


@register(
    "join_range_price_bands",
    oracle="""
SELECT band_id, count(*) AS n_parts
FROM part
JOIN (VALUES (0, 0.0, 1100.0), (1, 1100.0, 1400.0), (2, 1400.0, 1700.0),
             (3, 1700.0, 100000.0)) bands(band_id, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id
""",
    tags=("join", "range"),
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny in-memory band table —
    plans as BroadcastNestedLoopJoin, the right strategy when one side
    is a handful of rows; at scale the alternative is a bucketized
    band-key equi-join."""
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [(0, 0.0, 1100.0), (1, 1100.0, 1400.0), (2, 1400.0, 1700.0), (3, 1700.0, 100000.0)],
        "band_id int, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(F.count("*").alias("n_parts"))
    )


# --- Q2 (adapted: no partsupp — part↔supplier via lineitem; min
#     account balance stands in for min supply cost) ---

@register(
    "q02_min_cost_supplier",
    oracle="""
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name
  FROM part JOIN ps ON p_partkey = l_partkey
            JOIN eu ON l_suppkey = s_suppkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM cand c
WHERE s_acctbal = (SELECT min(s_acctbal) FROM cand m WHERE m.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    tags=("tpch", "join", "correlated-subquery"),
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to the reduced schema: the part↔supplier
    relation is derived from lineitem (distinct pairs), the correlated
    min subquery becomes a per-part window min — one shuffle on
    p_partkey instead of an aggregate + join-back."""
    from pyspark.sql import Window as W

    ps = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).dropDuplicates()
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    )
    w = W.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- Q4 (adapted: "late" = shipped >60 days after order date) ---

@register(
    "q04_order_priority_check",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    tags=("tpch", "semi-join", "exists"),
)
def q04_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a cross-side date predicate → left
    semi join whose condition references both sides (no commitdate/
    receiptdate in the corpus; >60-day ship lag stands in for late)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --- Q7 (volume shipping between two nations) ---

@register(
    "q07_volume_shipping",
    oracle=f"""
SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
""",
    tags=("tpch", "join", "self-join-dim"),
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dimension joins twice under two roles
    (customer's vs supplier's nation) — aliased broadcast joins; the
    pair filter keeps only cross-nation trade."""
    pair = ("NATION_1", "NATION_2")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --- Q8 (national market share) ---

@register(
    "q08_market_share",
    oracle=f"""
WITH all_nations AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       {sql_dec_sum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END")}
         / {sql_dec_sum("volume")} AS mkt_share
FROM all_nations
GROUP BY o_year
""",
    tags=("tpch", "join", "ratio-agg"),
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional trade volume per
    year — conditional sum over total sum after a 7-table join (all
    dims broadcast; the only shuffles are orders⋈lineitem and the
    final tiny aggregation)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", volume).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dec_sum(nat_vol) / dec_sum(volume)).alias("mkt_share"))
    )


# --- Q9 (product-type profit, retailprice as cost proxy) ---

@register(
    "q09_product_profit",
    oracle=f"""
SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       {sql_dec_sum("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.01")} AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
    tags=("tpch", "join", "like"),
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year for parts
    matching a LIKE pattern (no partsupp → 1% of retailprice stands in
    for supply cost). The LIKE filter prunes part before broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.01)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dec_sum(profit).alias("sum_profit"))
    )


# --- Q12 (priority counting per line status; no shipmode column) ---

@register(
    "q12_priority_by_linestatus",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
""",
    tags=("tpch", "join", "conditional-agg"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: urgent-vs-rest order counts per line status
    (linestatus stands in for the absent shipmode)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --- Q15 (top supplier by quarterly revenue) ---

@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    tags=("tpch", "scalar-subquery", "max"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view is computed once and reused by
    both the max scalar subquery and the equality filter (exact decimal
    sums make the double equality safe across engines)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- Q16 (supplier count per part profile, with exclusions) ---

@register(
    "q16_parts_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2, 3
""",
    tags=("tpch", "distinct-agg", "anti-join"),
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part profile,
    excluding flagged suppliers (negative balance stands in for the
    complaints subquery) via a broadcast anti join before the
    distinct aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- Q17 (small-quantity-order revenue: correlated avg) ---

@register(
    "q17_small_quantity_revenue",
    oracle=f"""
WITH pa AS (
  SELECT l_partkey AS pk,
         {sql_dec_sum("l_quantity")} / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_dec_sum("l_extendedprice")} / 7.0 AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa   ON pk = l_partkey
WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
""",
    tags=("tpch", "correlated-avg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems below 20% of their part's average
    quantity. The correlated avg becomes a per-part aggregate joined
    back to the fact — the aggregate output is small (one row per
    part) so it broadcasts."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pa = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (dec_sum(F.col("l_quantity")) / F.count("*")).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(pa), l.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dec_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


# --- Q21 (suppliers who alone shipped late on multi-supplier orders) ---

@register(
    "q21_waiting_supplier",
    oracle="""
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 90 DAY
),
stats AS (SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS n_supp
          FROM lineitem GROUP BY l_orderkey),
lstats AS (SELECT l_orderkey AS lok, count(*) AS n_late FROM late GROUP BY l_orderkey)
SELECT s_name, count(*) AS numwait
FROM late
JOIN stats ON late.l_orderkey = stats.ok
JOIN lstats ON late.l_orderkey = lstats.lok
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    tags=("tpch", "multi-agg-join"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS/NOT-EXISTS pair over sibling
    lineitems becomes two per-order aggregates (distinct suppliers;
    distinct late suppliers) joined back to the late set — three
    shuffles on l_orderkey that AQE can plan as one exchange reuse
    (>90-day ship lag stands in for receipt-past-commit)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .dropDuplicates()
    )
    stats = l.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    lstats = late.groupBy(F.col("l_orderkey").alias("lok")).agg(
        F.count("*").alias("n_late")
    )
    return (
        late.join(stats, late.l_orderkey == F.col("ok"))
        .join(lstats, late.l_orderkey == F.col("lok"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --- Q11 (important part values: HAVING vs global scalar subquery) ---

@register(
    "q11_important_part_values",
    oracle=f"""
WITH v AS (
  SELECT l_partkey,
         {sql_dec_sum("l_extendedprice * l_quantity")} AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey, value
FROM v
WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 0.001 FROM v)
""",
    tags=("tpch", "scalar-subquery", "having"),
)
def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp in the corpus, so shipped value
    from lineitem stands in for stock value): per-part value for one
    nation's suppliers, kept only when above a fraction of the nation
    total. The global total is a 1-row aggregate broadcast back onto
    the grouped output — the classic HAVING-vs-scalar-subquery plan
    with both aggregations sharing one shuffle of the filtered fact."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    v = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(dec_sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    total = v.agg((dec_sum(F.col("value")) * F.lit(0.001)).alias("threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
    )


# --- Q20 (suppliers with excess shipments: nested semi-join chain) ---

@register(
    "q20_excess_shipment_suppliers",
    oracle=f"""
WITH red_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
sp AS (
  SELECT l_suppkey, l_partkey,
         {sql_dec_sum("l_quantity")} AS supp_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
),
pt AS (
  SELECT l_partkey AS pk, {sql_dec_sum("l_quantity")} AS part_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey
)
SELECT DISTINCT s_name, s_suppkey
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM sp JOIN pt ON l_partkey = pk
  WHERE supp_qty > 0.5 * part_qty
)
""",
    tags=("tpch", "semi-join", "nested-subquery"),
)
def q20_excess_shipment_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (shipped quantity stands in for partsupp
    availqty): suppliers who shipped more than half of a red part's
    1997 volume. The nested IN-subqueries become a broadcast semi join
    (parts filter) feeding two aggregations over the SAME filtered
    scan — Catalyst reuses the exchange — then a LEFT SEMI join back
    to supplier, so supplier rows are never duplicated or shuffled."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = l.join(F.broadcast(red), l.l_partkey == red.p_partkey, "left_semi")
    sp = shipped.groupBy("l_suppkey", "l_partkey").agg(
        dec_sum(F.col("l_quantity")).alias("supp_qty")
    )
    pt = shipped.groupBy(F.col("l_partkey").alias("pk")).agg(
        dec_sum(F.col("l_quantity")).alias("part_qty")
    )
    excess = (
        sp.join(pt, sp.l_partkey == F.col("pk"))
        .filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
        .dropDuplicates()
    )


@register(
    "join_salted_skew_supplier_revenue",
    oracle=f"""
SELECT s_nationkey, count(*) AS n_items,
       {sql_dec_sum("l_extendedprice")} AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
""",
    tags=("join", "skew", "salted"),
)
def join_salted_skew_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted join (operators.skew.salted_join) gated against
    the plain-join oracle: the fact side's key is salted 8 ways
    (deterministic pmod(xxhash64(l_orderkey))), the supplier side
    replicated once per salt, joined on (key, salt) — a hot supplier's
    rows spread across 8 tasks instead of one straggler. Semantically
    identical to the unsalted join, which is exactly what the oracle
    asserts. This is the manual fallback for skew AQE can't split
    (e.g. a replicated build side); session.py keeps AQE skew-join on
    as the first line of defense."""
    from ..operators.skew import salted_join

    l = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(l, s, on="l_suppkey", n_salts=8, salt_by="l_orderkey")
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        dec_sum(F.col("l_extendedprice")).alias("revenue"),
    )


@register(
    "cdc_changelog_apply_orders",
    oracle="""
WITH snap AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders
),
changes AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice + 50 AS DOUBLE) AS o_totalprice,
         1 AS seq, 'u' AS op
  FROM snap WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice + 100 AS DOUBLE) AS o_totalprice,
         2 AS seq, 'u' AS op
  FROM snap WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'd' AS op
  FROM snap WHERE o_orderkey % 10 = 3
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC)
              AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
FROM snap s
WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = s.o_orderkey)
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM latest WHERE op = 'u'
""",
    tags=("cdc", "merge", "upsert"),
)
def cdc_changelog_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC materialization (operators.cdc.apply_changelog): apply an
    ordered change feed — two competing price updates per key ending
    in %10=7 (seq 2 must win) and delete tombstones for keys ending in
    %10=3 — onto the orders snapshot, last-write-wins. The snapshot
    never shuffles: one broadcast anti join on the changed keys plus
    the winning upserts. The changelog is derived deterministically
    from the snapshot itself so the oracle can re-derive it; double
    addition on doubles is bit-equal across engines."""
    from ..operators.cdc import apply_changelog

    snap, changes = _orders_snapshot_and_changelog(spark, sf_dir)
    return apply_changelog(snap, changes, key_cols=["o_orderkey"])


def _orders_snapshot_and_changelog(spark: SparkSession, sf_dir: str):
    """Shared fixture for the CDC family: the orders snapshot plus a
    deterministic, self-derived change feed (two competing updates on
    %10=7 keys, a delete tombstone on %10=3 keys) that the DuckDB
    oracles re-derive with identical arithmetic."""
    snap = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    upd = snap.filter(F.col("o_orderkey") % 10 == 7)
    changes = (
        upd.select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 50).alias("o_totalprice"),
            F.lit(1).alias("seq"),
            F.lit("u").alias("op"),
        )
        .unionByName(
            upd.select(
                "o_orderkey",
                "o_orderstatus",
                (F.col("o_totalprice") + 100).alias("o_totalprice"),
                F.lit(2).alias("seq"),
                F.lit("u").alias("op"),
            )
        )
        .unionByName(
            snap.filter(F.col("o_orderkey") % 10 == 3).select(
                "o_orderkey",
                "o_orderstatus",
                "o_totalprice",
                F.lit(1).alias("seq"),
                F.lit("d").alias("op"),
            )
        )
    )
    return snap, changes


_CDC_CHANGES_CTE = """
snap AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders
),
changes AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice + 50 AS DOUBLE) AS o_totalprice,
         1 AS seq, 'u' AS op
  FROM snap WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice + 100 AS DOUBLE) AS o_totalprice,
         2 AS seq, 'u' AS op
  FROM snap WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'd' AS op
  FROM snap WHERE o_orderkey % 10 = 3
)
"""


_SCD2_ORACLE = f"""
WITH {_CDC_CHANGES_CTE.strip()},
stream AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS seq, 'u' AS op FROM snap
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, seq, op FROM changes
),
hist AS (
  SELECT *,
         lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
  FROM stream
)
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CAST(seq AS INT) AS valid_from_seq,
       CAST(next_seq AS INT) AS valid_to_seq,
       (next_seq IS NULL) AS is_current
FROM hist WHERE op = 'u'
"""


@register(
    "cdc_scd2_orders_history",
    oracle=_SCD2_ORACLE,
    tags=("cdc", "scd2", "history"),
)
def cdc_scd2_orders_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 build (operators.cdc.scd2_history): the same derived
    change feed as cdc_changelog_apply_orders, but materialized as a
    full version history — every update opens a version, the next event
    on the key closes the previous one, deletes close without opening.
    Keys ending %10=7 end with three versions (seq 0→1→2, last current);
    %10=3 keys end closed with no current row; untouched keys are a
    single open seq-0 version. One key-partitioned window over
    snapshot ∪ changes — a single shuffle on the dimension key, no
    self-join (see the operator docstring for the 100 TB argument)."""
    from ..operators.cdc import scd2_history

    snap, changes = _orders_snapshot_and_changelog(spark, sf_dir)
    return scd2_history(snap, changes, key_cols=["o_orderkey"])


@register(
    "streaming_scd2_orders_history",
    oracle=_SCD2_ORACLE,
    tags=("cdc", "scd2", "streaming", "exactly-once"),
)
def streaming_scd2_orders_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming SCD2 dimension maintenance
    (streaming.pipeline.scd2_bucketed_batch_fn on a ONE-bucket
    snapshot-manifest table, run_bounded_scd2): the same change feed
    delivered as three strictly-ordered micro-batches, each folded into
    the history table exactly once (the manifest's ``batch_hw`` is the
    replay guard — replayed batches are no-ops; the atomic manifest
    create is the commit point). Gated against the IDENTICAL oracle as
    the batch cdc_scd2_orders_history — the streaming maintenance must
    converge to exactly the one-shot batch history, the module's
    streaming≡batch argument applied to dimension versioning. Per batch
    only affected keys enter the chaining window; closed history rows
    are never edited.

    Scale caveat (the production twin fixes it): with one bucket every
    micro-batch rewrites the FULL history. See
    streaming_scd2_orders_history_bucketed for the bucket-partitioned
    partial-rewrite shape."""
    from ..streaming.pipeline import run_bounded_scd2

    return run_bounded_scd2(spark, sf_dir)


@register(
    "streaming_scd2_orders_history_bucketed",
    oracle=_SCD2_ORACLE,
    tags=("cdc", "scd2", "streaming", "exactly-once", "lakehouse"),
)
def streaming_scd2_orders_history_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming SCD2 maintenance on a BUCKET-PARTITIONED
    snapshot-manifest table
    (streaming.pipeline.scd2_bucketed_batch_fn over
    sources.snapshot.SnapshotTable) — the production shape the
    one-bucket fixture's docstring points to: the history
    partitions by key hash bucket; each micro-batch reads, chains, and
    rewrites ONLY the buckets its keys hash into; untouched buckets
    carry forward BY MANIFEST REFERENCE with their files
    byte-identical (filesystem-pinned unit). Per-batch cost is
    O(touched-bucket history), never O(total history) — at 100 TB the
    difference between a bounded partial rewrite and re-materializing
    a multi-TB dimension per batch. The chaining core and the
    at-least-once seq guard are the SAME code as the one-bucket
    twin (streaming.pipeline.scd2_bucketed_batch_fn), and all three
    builds — batch, one-bucket streaming, bucketed streaming — gate
    against the IDENTICAL oracle."""
    from ..streaming.pipeline import run_bounded_scd2_bucketed

    return run_bounded_scd2_bucketed(spark, sf_dir)


# --- blocked fuzzy join (entity resolution / record linkage) ---

@register(
    "join_fuzzy_blocked_levenshtein",
    oracle=r"""
WITH catalog AS (SELECT DISTINCT p_name FROM part),
probes AS (SELECT DISTINCT substr(p_name, 2) AS probe FROM part),
cand AS (
  SELECT p.probe, c.p_name AS matched_name,
         levenshtein(p.probe, c.p_name) AS distance
  FROM probes p JOIN catalog c
    ON regexp_extract(p.probe, '(\S+)$', 1)
     = regexp_extract(c.p_name, '(\S+)$', 1)
),
best AS (
  SELECT probe, matched_name, distance,
         row_number() OVER (PARTITION BY probe
                            ORDER BY distance, matched_name) AS rn
  FROM cand WHERE distance <= 2
)
SELECT probe, matched_name, CAST(distance AS INT) AS distance
FROM best WHERE rn = 1
""",
    tags=("join", "fuzzy", "blocking", "entity-resolution"),
)
def join_fuzzy_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by blocked fuzzy join: dirty probe names (each
    catalog name with its first character dropped — a deterministic
    typo the oracle re-derives) are resolved back to the catalog via
    edit distance ≤ 2, best match per probe (min distance, then name —
    a unique tie-break).

    The blocking key is the last whitespace token: candidates are
    generated ONLY within a block, never all-pairs — at 100 TB the
    quadratic blowup of a naive fuzzy join is confined to per-block
    group sizes, the same move as the LSH band join in
    operators/dedup.py. Both sides are first collapsed to DISTINCT
    names (the name domain, not the fact rows), and the deduped catalog
    is broadcast, so the probe side never shuffles for the match."""
    part = _t(spark, sf_dir, "part")
    block = lambda c: F.regexp_extract(c, r"(\S+)$", 1)  # noqa: E731
    catalog = (
        part.select(F.col("p_name").alias("matched_name"))
        .distinct()
        .withColumn("block", block(F.col("matched_name")))
    )
    probes = (
        part.select(F.expr("substr(p_name, 2)").alias("probe"))
        .distinct()
        .withColumn("block", block(F.col("probe")))
    )
    cand = (
        probes.join(F.broadcast(catalog), "block")
        .withColumn(
            "distance", F.levenshtein(F.col("probe"), F.col("matched_name"))
        )
        .filter(F.col("distance") <= 2)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("probe").orderBy("distance", "matched_name")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe", "matched_name", F.col("distance").cast("int").alias("distance"))
    )


@register(
    "sql_recursive_order_chain_depth",
    oracle="""
SELECT CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS BIGINT)
         AS chain_depth,
       o_orderkey, o_custkey
FROM orders
""",
    tags=("sql", "recursive-cte", "iterative"),
)
def sql_recursive_order_chain_depth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 RECURSIVE CTE surface: each customer's orders form a
    successor chain (order → next order by date); the recursive walk
    assigns every order its depth along the chain. The oracle derives
    the same depths INDEPENDENTLY via row_number — a closed form the
    recursion must agree with on every row, which gates both the
    recursion semantics (anchor ∪ step, termination on the NULL
    successor) and the successor construction. This is the
    fixpoint-iteration surface as a declarative SQL feature, beside the
    engine's unrolled-iteration operators (PageRank/CC/shortest-path):
    at scale each recursion step is one join of the frontier against
    the static successor edges — the same per-round economics, with the
    engine owning the loop."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_rcte_src")
    return spark.sql(
        """
WITH RECURSIVE walk(o_custkey, o_orderkey, chain_depth) AS (
  SELECT o_custkey, o_orderkey, CAST(1 AS BIGINT)
  FROM (
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders_rcte_src
  ) WHERE rn = 1
  UNION ALL
  SELECT n.o_custkey, n.next_key, w.chain_depth + 1
  FROM walk w
  JOIN (
    SELECT o_custkey, o_orderkey,
           lead(o_orderkey) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
             AS next_key
    FROM orders_rcte_src
  ) n ON w.o_orderkey = n.o_orderkey
  WHERE n.next_key IS NOT NULL
)
SELECT chain_depth, o_orderkey, o_custkey FROM walk
"""
    )
