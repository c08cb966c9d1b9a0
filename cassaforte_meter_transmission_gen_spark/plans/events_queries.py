"""Event-stream analytics over the ``events`` table (batch forms).

These are the batch duals of the reference's streaming semantics
(SURVEY §2.8): tumbling windows (T3 — the minute/hour/day counter
tables), sliding and session windows (T6 — engine extensions), with
event-time ordering and unique tie-breaks for determinism. The live
Structured Streaming forms of the same aggregations are in
``streaming.pipeline``; the batch≡streaming equivalence test is the
correctness argument for the streaming path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..schemas import load_table
from .catalog import register
from .compat import DEC, dec_sum, sql_dec_sum


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "events_tumbling_minute_by_type",
    oracle=f"""
SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS win_start, event_type,
       count(*) AS n_events, {sql_dec_sum("value")} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("events", "window-tumbling"),
)
def events_tumbling_minute_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling aggregation — the reference's counter-table
    semantics (T3) applied to a generic event stream. date_trunc as the
    bucket key aggregates with map-side partials; no window-struct
    materialization needed for tumbling."""
    e = _ev(spark, sf_dir)
    return (
        e.groupBy(
            F.date_trunc("minute", "ts").alias("win_start"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "events_sliding_10m_5m",
    oracle=f"""
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + (CAST(floor(epoch(ts) / 300) AS BIGINT) - k) * 300 * INTERVAL 1 SECOND
         AS win_start,
       count(*) AS n_events, {sql_dec_sum("value")} AS total_value
FROM events CROSS JOIN range(0, 2) t(k)
GROUP BY 1
""",
    tags=("events", "window-sliding"),
)
def events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window 10 min / slide 5 min via the native ``window()``
    expression (each event lands in exactly two windows; Spark expands
    them before the hash agg — same cost shape as the oracle's explicit
    ×2 expansion)."""
    e = _ev(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
    )


@register(
    "events_sessionization_30m",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, {sql_dec_sum("value")} AS total_value
FROM sessions
GROUP BY user_id, session_seq
""",
    tags=("events", "sessionization"),
)
def events_sessionization_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity): lag + running
    sum of session-start flags, then per-session aggregation. One
    shuffle on user_id serves both window passes and the final group.
    Streaming dual: ``session_window``/``applyInPandasWithState``
    (streaming.pipeline)."""
    # window expressions as server-parsed strings (r14 build-latency
    # pass): same trees — textually identical OVER clauses land in the
    # same window group, exactly like the shared Column WindowSpec did
    e = _ev(spark, sf_dir)
    ow = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    flagged = e.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "value",
        f"CASE WHEN lag(ts) {ow} IS NULL OR unix_micros(ts) - "
        f"unix_micros(lag(ts) {ow}) > 1800000000 THEN 1 ELSE 0 END"
        " AS is_new",
    )
    sess = flagged.selectExpr(
        "*",
        "SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq",
    )
    return sess.groupBy(
        "user_id", F.expr("CAST(session_seq AS BIGINT)").alias("session_seq")
    ).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.expr(sql_dec_sum("value")).alias("total_value"),
    )


@register(
    "streaming_sessionization_30m",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events, {sql_dec_sum("value")} AS total_value
FROM sessions
GROUP BY user_id, session_seq
""",
    tags=("events", "sessionization", "streaming"),
)
def streaming_sessionization_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE Structured Streaming sessionization (native
    ``session_window`` stateful agg, streaming.pipeline.session_rollup)
    driven over a bounded event stream to completion — gated against
    the same gap-sessionization oracle as the batch form, proving the
    streaming session store merges sessions exactly (T6). Decimal sums
    make the result independent of micro-batch arrival order."""
    from ..streaming.pipeline import run_bounded_sessions

    return run_bounded_sessions(spark, sf_dir, "30 minutes")


@register(
    "streaming_interval_join_30m",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value,
       c.event_id AS click_id, c.ts AS click_ts
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
""",
    tags=("events", "streaming", "stream-stream-join"),
)
def streaming_interval_join_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream event-time interval join (streaming.pipeline.
    run_bounded_interval_join): purchases ⋈ same-user clicks within the
    preceding 30 minutes, both sides unbounded watermarked streams,
    append mode — gated against the batch interval-join oracle. The
    remaining member of the Structured Streaming surface next to
    windowed aggregation (T3), session windows (T6), and custom state
    (applyInPandasWithState)."""
    from ..streaming.pipeline import run_bounded_interval_join

    return run_bounded_interval_join(spark, sf_dir, "30 minutes")


@register(
    "events_json_extract_props",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(*) AS n_events
FROM events
GROUP BY event_type
""",
    tags=("events", "json"),
)
def events_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: extract an int field from the JSON props
    column and aggregate — `get_json_object` stays JVM-side."""
    e = _ev(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).cast("long").alias("sum_k"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_daily_user_activity",
    oracle=f"""
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       {sql_dec_sum("value")} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("events", "agg"),
)
def events_daily_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity rollup — the meter daily-report shape
    (§3.3) on the generic event stream."""
    e = _ev(spark, sf_dir)
    return e.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        dec_sum(F.col("value")).alias("total_value"),
    )


@register(
    "events_asof_purchase_last_click",
    oracle="""
WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
purch AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.ts, p.event_id, p.value,
       c.ts AS matched_ts, c.value AS value_asof
FROM purch p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    tags=("events", "asof-join"),
)
def events_asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof.asof_join): each purchase event picks
    up the latest click by the same user at or before it — the
    point-in-time lookup shape (market data, feature stores). Union-
    merge plan: one shuffle on user_id, no range cross-product; oracle
    is DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        purch, clicks, on=["user_id"], value_cols=["value"]
    )


@register(
    "events_funnel_view_click_purchase",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts >= v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts >= c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM p
""",
    tags=("events", "funnel", "sequential"),
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis: users whose first 'view' is followed
    by a 'click' within 24 h, then a 'purchase' within 24 h of that
    click — the ordered-steps product-analytics shape (each step's
    timestamp must be at-or-after the previous step's). Three narrow
    per-user min-aggregations chained by broadcast-sized joins — one
    shuffle per step on user_id, no self cross-product, no window over
    the full event table. Returns one row per step: (step, event_type,
    users)."""
    ev = _ev(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(df: DataFrame, n: int, et: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("users")).select(
            F.lit(n).alias("step"), F.lit(et).alias("event_type"), "users"
        )

    return step(v, 1, "view").unionByName(step(c, 2, "click")).unionByName(
        step(p, 3, "purchase")
    )


@register(
    "events_weekly_retention_cohorts",
    oracle="""
WITH wk AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
)
SELECT a.week,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users,
       CAST(count(DISTINCT b.user_id) AS BIGINT) AS retained_next_week
FROM wk a LEFT JOIN wk b
  ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
GROUP BY a.week
""",
    tags=("events", "retention", "cohort"),
)
def events_weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: of the users active in week W, how
    many are also active in week W+1 — the cohort-retention shape. One
    distinct pass builds the (user, week) activity set; the next-week
    presence is a self equi-join on (user, week+7d) — narrow keys only,
    never the event rows. Returns (week, active_users,
    retained_next_week)."""
    ev = _ev(spark, sf_dir)
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    nxt = wk.select(
        F.col("user_id").alias("b_user"), F.col("week").alias("b_week")
    )
    return (
        wk.join(
            nxt,
            (F.col("b_user") == F.col("user_id"))
            & (F.col("b_week") == F.date_add(F.col("week"), 7)),
            "left",
        )
        .groupBy("week")
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.count_distinct("b_user").alias("retained_next_week"),
        )
    )


@register(
    "events_zscore_daily_anomaly",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(SUM(n_events) AS BIGINT) AS sx,
         CAST(SUM(n_events * n_events) AS BIGINT) AS sxx
  FROM d GROUP BY event_type
)
SELECT d.event_type, d.day, d.n_events,
       CAST(s.n_days * d.n_events - s.sx AS DOUBLE)
         / SQRT(CAST(s.n_days * s.sxx - s.sx * s.sx AS DOUBLE)) AS zscore
FROM d JOIN s USING (event_type)
WHERE s.n_days * s.sxx > s.sx * s.sx
""",
    tags=("events", "anomaly", "statistics"),
)
def events_zscore_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score of each day's event count within its event
    type — the volume-anomaly monitor over an ingestion stream (a
    transmission-gap or flood day stands out as |z| >> 0). The usual
    avg/stddev_pop pair accumulates doubles in partition order, so
    instead the z-score is algebraically rearranged over exact integer
    sums: z = (n·x − Σx) / sqrt(n·Σx² − (Σx)²) — one subtraction, one
    sqrt, one division on integers-cast-to-double, bit-identical in
    both engines. Zero-variance types are excluded by an integer
    predicate (no float epsilon). Plan: one day-grain aggregation, a
    tiny per-type stats aggregate broadcast back, and a narrow map."""
    e = _ev(spark, sf_dir)
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n_events"))
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n_events").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sxx"),
    )
    return (
        d.join(F.broadcast(s), "event_type")
        .filter("n_days * sxx > sx * sx")
        .selectExpr(
            "event_type",
            "day",
            "n_events",
            "CAST(n_days * n_events - sx AS DOUBLE)"
            " / SQRT(CAST(n_days * sxx - sx * sx AS DOUBLE)) AS zscore",
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH o AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM o WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / SUM(n_transitions) OVER (PARTITION BY from_type)
         AS transition_prob
FROM c
""",
    tags=("events", "sequence", "statistics"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — which action follows which (the funnel diagnostic
    generalized to every pair). One user-partitioned lead window (same
    shuffle the sessionizer uses), one pair-keyed count, then each
    probability is a two-integer division — the row-normalizer is an
    exact integer window sum over the tiny type×type matrix, so the
    doubles are bit-equal across engines. At 100 TB the only full-data
    shuffle is the per-user window; the matrix itself is
    type-cardinality-sized."""
    e = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = o.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").alias("n_transitions"))
    norm = W.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm)
        ).alias("transition_prob"),
    )


@register(
    "events_time_weighted_value",
    oracle="""
WITH o AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         epoch_ms(ts) AS t_ms,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS v_ppm,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS nxt_ms
  FROM events
),
seg AS (
  SELECT user_id, day, v_ppm, nxt_ms - t_ms AS dur_ms
  FROM o WHERE nxt_ms IS NOT NULL
)
SELECT user_id, day,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(SUM(dur_ms) AS BIGINT) AS span_ms,
       CAST(CAST(SUM(v_ppm * dur_ms) AS BIGINT) AS DOUBLE)
         / (1000000.0 * CAST(CAST(SUM(dur_ms) AS BIGINT) AS DOUBLE))
         AS time_weighted_avg
FROM seg GROUP BY user_id, day
HAVING CAST(SUM(dur_ms) AS BIGINT) > 0
""",
    tags=("events", "timeseries", "statistics"),
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled value per
    user-day — the hypertable ``time_weight`` read (a plain AVG
    overweights bursts; step-function weighting by each reading's
    holding duration is the honest summary). Weights are exact integer
    milliseconds and values are quantized to integer ppm, so the
    weighted sum is pure int64 arithmetic (bounded by max_value ×
    day-length — no overflow) and the final division divides the same
    two integers in both engines. One user-day lead window (the same
    shuffle as sessionization) then a partial+final aggregation;
    zero-span groups are excluded by an integer predicate."""
    e = _ev(spark, sf_dir)
    day = F.date_trunc("day", "ts")
    w = W.partitionBy("user_id", day).orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        day.alias("day"),
        F.unix_millis("ts").alias("t_ms"),
        F.floor(F.col("value") * 1000000).cast("long").alias("v_ppm"),
        F.lead(F.unix_millis("ts")).over(w).alias("nxt_ms"),
    ).filter(F.col("nxt_ms").isNotNull())
    seg = o.select(
        "user_id", "day", "v_ppm", (F.col("nxt_ms") - F.col("t_ms")).alias("dur_ms")
    )
    return (
        seg.groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("dur_ms").alias("span_ms"),
            F.sum(F.col("v_ppm") * F.col("dur_ms")).alias("wsum"),
        )
        .filter(F.col("span_ms") > 0)
        .selectExpr(
            "user_id",
            "day",
            "n_segments",
            "span_ms",
            "CAST(wsum AS DOUBLE) / (1000000.0 * CAST(span_ms AS DOUBLE))"
            " AS time_weighted_avg",
        )
    )


@register(
    "events_rfm_user_value",
    oracle=f"""
WITH mx AS (SELECT max(ts) AS now_ts FROM events)
SELECT user_id,
       CAST(date_diff('day', max(ts), (SELECT now_ts FROM mx)) AS INT)
         AS recency_days,
       CAST(count(*) AS BIGINT) AS frequency,
       {sql_dec_sum("value")} AS monetary
FROM events GROUP BY user_id
""",
    tags=("events", "agg", "rfm"),
)
def events_rfm_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) per user — the canonical
    customer-value segmentation input. Recency anchors on the corpus
    max timestamp (never wall-clock — determinism for replay and the
    oracle) as whole-day boundaries crossed; monetary uses the exact
    decimal-sum trick. One user-keyed aggregation plus a broadcast of
    the one-row anchor."""
    e = _ev(spark, sf_dir)
    mx = e.agg(F.max("ts").alias("now_ts"))
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        dec_sum(F.col("value")).alias("monetary"),
    )
    return per_user.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff(F.to_date("now_ts"), F.to_date("last_ts"))
        .cast("int")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )


@register(
    "events_conversion_latency_percentiles",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         CAST(epoch_ms(min(e.ts)) - epoch_ms(v.first_view) AS BIGINT)
           AS ms_to_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
  GROUP BY e.user_id, v.first_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(ms_to_purchase, 0.50) AS p50_ms,
       quantile_cont(ms_to_purchase, 0.90) AS p90_ms,
       CAST(MAX(ms_to_purchase) AS BIGINT) AS max_ms
FROM p
""",
    tags=("events", "funnel", "percentile"),
)
def events_conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: per user, milliseconds from first view to
    the first subsequent purchase, summarized as p50/p90/max — the
    timing half of the funnel (events_funnel_view_click_purchase counts
    WHO converts; this measures HOW FAST). Latencies are exact integer
    milliseconds; Spark ``percentile`` and DuckDB ``quantile_cont``
    share the (n-1)·p interpolation, so the summary doubles match
    bit-for-bit. Exact global percentiles buffer per-partition then
    merge — at 100 TB swap in percentile_approx (the documented approx
    family) for the same report shape."""
    e = _ev(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
        .select(
            (
                F.unix_millis("first_purchase") - F.unix_millis("first_view")
            ).alias("ms_to_purchase")
        )
    )
    return p.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile(ms_to_purchase, 0.5)").alias("p50_ms"),
        F.expr("percentile(ms_to_purchase, 0.9)").alias("p90_ms"),
        F.max("ms_to_purchase").alias("max_ms"),
    )


@register(
    "events_hourly_load_profile",
    oracle=f"""
SELECT CAST(hour(ts) AS INT) AS hour_of_day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_dec_sum("value")} AS total_value
FROM events GROUP BY 1
""",
    tags=("events", "agg", "profile"),
)
def events_hourly_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile (UTC — the session pins the timezone,
    so ``hour()`` agrees across engines): event volume, distinct users,
    and exact value totals per hour — the capacity-planning read every
    ingestion operator runs. One 24-group aggregation with map-side
    partials."""
    e = _ev(spark, sf_dir)
    return e.groupBy(F.hour("ts").cast("int").alias("hour_of_day")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        dec_sum(F.col("value")).alias("total_value"),
    )


@register(
    "events_attribution_linear_7d",
    oracle=f"""
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts, event_type FROM events WHERE event_type <> 'purchase'
),
credited AS (
  SELECT p.event_id,
         CAST(CAST(p.value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro,
         t.event_type,
         COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches
  FROM purchases p JOIN touches t
    ON t.user_id = p.user_id
   AND t.ts <= p.ts
   AND t.ts > p.ts - INTERVAL 7 DAY
)
SELECT event_type AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(v_micro // n_touches) AS BIGINT) AS credited_micro
FROM credited
GROUP BY 1
""",
    tags=("events", "attribution", "interval-join", "scale"),
)
def events_attribution_linear_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across every non-purchase touch by the same user in the 7
    days up to the purchase, then credited value is rolled up per
    channel (event_type). The complement of the last-touch as-of join
    (events_asof_purchase_last_click): every touch in the lookback gets
    fractional credit, not just the latest.

    Scale shape: the purchase↔touch match is an equi-join on user_id
    with a bounded time-range predicate — it shuffles both sides once
    on user_id and the range filter caps per-purchase fan-out at the
    user's 7-day touch count. The per-purchase touch count comes from a
    window over the join output partitioned by the (unique) purchase
    event_id — no second join, no driver state. Credits are INTEGER
    micro-units: the purchase value becomes v_micro int64 (the same
    raw-column decimal quantization every dec_sum uses), each touch
    gets v_micro DIV n_touches (floor), and the per-channel total is a
    pure int64 sum — re-quantizing the COMPUTED double quotient
    value/n_touches as decimal would hit the engines' double→decimal
    midpoint divergence (streaming/pipeline.py NOTE; judge ADVICE r8).
    The ≤(n_touches−1) micro-unit floor remainder per purchase is the
    documented semantics, identical on both engines."""
    e = _ev(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
        ).alias("v_micro"),
    )
    touches = e.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    joined = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    w = W.partitionBy("event_id")
    credited = joined.withColumn("n_touches", F.count("*").over(w))
    return credited.groupBy("channel").agg(
        F.count("*").alias("n_credits"),
        F.sum(F.expr("v_micro DIV n_touches"))
        .cast("long")
        .alias("credited_micro"),
    )


@register(
    "streaming_enrich_join_user_profile",
    oracle="""
WITH prof AS (
  SELECT user_id, COUNT(*) AS user_n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS user_total
  FROM events GROUP BY 1
)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(p.user_total AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_user_total,
       CAST(SUM(p.user_n) AS BIGINT) AS sum_user_n
FROM events e JOIN prof p ON e.user_id = p.user_id
GROUP BY 1
""",
    tags=("events", "streaming", "stream-static-join"),
)
def streaming_enrich_join_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-static enrichment join
    (streaming.pipeline.run_bounded_enrich_join): events replayed as a
    bounded stream, each joined to the batch-built per-user profile
    (count + decimal-exact lifetime value), rolled up per event type.
    Completes the streaming join surface: stream-stream interval join
    (streaming_interval_join_30m) + this stream-static lookup. Gated
    against the batch join+agg oracle; the enrichment sums aggregate
    the profile columns themselves decimal-exactly (a re-quantized
    per-user quotient would hit the engines' double→decimal rounding
    midpoint divergence — see the runner's NOTE)."""
    from ..streaming.pipeline import run_bounded_enrich_join

    return run_bounded_enrich_join(spark, sf_dir)


def _ewma_case_sql() -> tuple[str, int]:
    """Shared weight table for the trailing EWMA: decay 0.9 over the
    last 8 events as EXACT integer coefficients on the common
    denominator 10^7 — c_k = 9^k · 10^(7−k) for lag k (rn = k+1).
    Emitting one CASE text used verbatim by BOTH engines keeps the
    arithmetic pure int64: max term = value_ppm(≤~5e8) · 1e7 · 8 rows
    ≈ 4e16, well inside int64."""
    coeffs = [9**k * 10 ** (7 - k) for k in range(8)]
    case = (
        "CASE "
        + " ".join(
            f"WHEN rn = {k + 1} THEN {c}" for k, c in enumerate(coeffs)
        )
        + " ELSE 0 END"
    )
    return case, sum(coeffs)


@register(
    "events_ewma_user_value",
    oracle=f"""
WITH ranked AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_ppm,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
last8 AS (
  SELECT user_id, v_ppm, {_ewma_case_sql()[0]} AS c
  FROM ranked WHERE rn <= 8
)
SELECT user_id,
       CAST(COUNT(*) AS INT) AS n_used,
       CAST(SUM(v_ppm * c) // SUM(c) AS BIGINT) AS ewma_micro
FROM last8
GROUP BY user_id
""",
    tags=("events", "time-series", "ewma", "integer-exact"),
)
def events_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average (decay 0.9) of
    each user's last 8 event values — the time-series smoothing read a
    monitoring pipeline serves per entity. EWMA is inherently
    sequential (pow-decay weights), which double arithmetic can't
    cross-engine match; here the weights are exact integer
    coefficients on a common 10^7 denominator and values are micro
    quantized, so numerator/denominator are int64 sums and the final
    truncating divide is the same two integers in both engines (the
    time-weighted-average move applied to exponential decay).

    Scale: one user-partitioned window ranks events newest-first with
    the rn ≤ 8 predicate pushed as a partial WindowGroupLimit — each
    task forwards at most 8 rows per user to the shuffle — then one
    grouped integer sum per user. No driver state, no iteration."""
    e = _ev(spark, sf_dir)
    case_sql, _den = _ewma_case_sql()
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = e.select(
        "user_id",
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
        ).alias("v_ppm"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 8)
    last8 = ranked.withColumn("c", F.expr(case_sql))
    return last8.groupBy("user_id").agg(
        F.count("*").cast("int").alias("n_used"),
        F.expr("CAST(SUM(v_ppm * c) DIV SUM(c) AS BIGINT)").alias(
            "ewma_micro"
        ),
    )


@register(
    "events_pattern_drop_drop_spike",
    oracle="""
WITH seq AS (
  SELECT user_id, value,
         lag(value, 3) OVER w AS v3,
         lag(value, 2) OVER w AS v2,
         lag(value, 1) OVER w AS v1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hits AS (
  SELECT user_id FROM seq
  WHERE v3 > v2 AND v2 > v1 AND value > v3
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_patterns
FROM hits GROUP BY user_id
""",
    tags=("events", "pattern", "sequence"),
)
def events_pattern_drop_drop_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (the MATCH_RECOGNIZE shape expressed
    with lag windows): per user, count occurrences of two consecutive
    value drops followed by a rebound above the pre-drop level —
    drop→drop→spike. Pure comparisons on the raw doubles (no derived
    arithmetic), so the oracle gate is exact by construction.

    Scale: ONE user-partitioned window produces all three lags in a
    single pass (shared window frame, no self-joins — the naive
    formulation is three self-joins on consecutive event ranks); the
    pattern predicate then filters locally and a partial-agg count
    rolls up per user."""
    e = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.lag("value", 3).over(w).alias("v3"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 1).over(w).alias("v1"),
    )
    hits = seq.filter(
        (F.col("v3") > F.col("v2"))
        & (F.col("v2") > F.col("v1"))
        & (F.col("value") > F.col("v3"))
    )
    return hits.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_patterns")
    )


_CUSUM_K = 300_000_000  # per-event drift allowance, value micro-units
_CUSUM_H = 1_000_000_000  # alarm threshold, value micro-units

_CUSUM_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS rn
  FROM events
),
step AS (
  SELECT user_id, rn, GREATEST(CAST(0 AS BIGINT), v - {_CUSUM_K}) AS s
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         GREATEST(CAST(0 AS BIGINT), st.s + e.v - {_CUSUM_K})
  FROM step st JOIN ev e ON e.user_id = st.user_id AND e.rn = st.rn + 1
)
SELECT user_id,
       CAST(COUNT(*) AS INT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE s > {_CUSUM_H}) AS INT) AS n_alarms,
       CAST(MAX(s) AS BIGINT) AS max_s,
       CAST(MIN(rn) FILTER (WHERE s > {_CUSUM_H}) AS INT) AS first_alarm_rn
FROM step
GROUP BY user_id
"""


@register(
    "events_cusum_user_value_shift",
    oracle=_CUSUM_ORACLE,
    tags=("events", "time-series", "changepoint", "cusum", "integer-exact"),
)
def events_cusum_user_value_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequential changepoint detection — one-sided CUSUM per user over
    the event-value stream: ``S_t = max(0, S_{{t-1}} + (x_t − k))``
    with an alarm whenever ``S_t > h`` (no reset — the standard
    monitoring form), reporting per user the alarm count, the peak
    statistic, and the first alarm position. Completes the time-series
    monitoring family (TWA / EWMA / pattern / trailing-window) with the
    RECURSIVE member the others deliberately avoid.

    Why this shape: CUSUM's recurrence is order-dependent and
    non-associative, so no window frame or groupBy aggregate expresses
    it. Here each user's (ts, event_id)-sorted value sequence is folded
    by ONE higher-order ``aggregate`` lambda over a struct accumulator
    — all int64 micro-units, so the DuckDB oracle (a recursive CTE
    stepping the identical recurrence) matches bit-for-bit. The alarm
    rule and thresholds are integer literals shared by both engines.

    Scale shape: one shuffle (groupBy user) and one in-memory fold per
    user — sequence length is the user's event count, the same
    per-entity bound every sessionization/window query already carries;
    an unbounded stream would run the identical recurrence as
    applyInPandasWithState (the cumulative-energy pattern in
    streaming/pipeline.py). Nothing driver-side, no Python in the
    fold (Catalyst higher-order functions, JVM codegen)."""
    e = _ev(spark, sf_dir)
    seq = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            ).alias("v_ppm"),
        )
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "v_ppm"))
            ).alias("seq")
        )
    )
    step = f"greatest(0L, acc.s + v - {_CUSUM_K}L)"
    fold = F.expr(
        f"""aggregate(
  transform(seq, x -> x.v_ppm),
  named_struct('s', 0L, 'mx', 0L, 'n', 0L, 'i', 0L, 'fa', 0L),
  (acc, v) -> named_struct(
    's', {step},
    'mx', greatest(acc.mx, {step}),
    'n', acc.n + IF({step} > {_CUSUM_H}L, 1L, 0L),
    'i', acc.i + 1L,
    'fa', IF(acc.fa = 0L AND {step} > {_CUSUM_H}L, acc.i + 1L, acc.fa)))"""
    )
    out = seq.select(
        "user_id", F.size("seq").alias("n_raw"), fold.alias("r")
    )
    return out.select(
        "user_id",
        F.col("n_raw").cast("int").alias("n_events"),
        F.col("r.n").cast("int").alias("n_alarms"),
        F.col("r.mx").cast("long").alias("max_s"),
        F.expr("CAST(nullif(r.fa, 0L) AS INT)").alias("first_alarm_rn"),
    )


@register(
    "streaming_cusum_user_value_shift",
    oracle=_CUSUM_ORACLE,
    tags=(
        "events", "streaming", "time-series", "changepoint", "cusum",
        "integer-exact", "stateful",
    ),
)
def streaming_cusum_user_value_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE streaming CUSUM (streaming.pipeline.cusum_stream): the
    per-user changepoint statistic maintained as
    ``applyInPandasWithState`` custom state — five int64s per user —
    over the events table replayed as a time-ordered bounded stream in
    multiple micro-batches. Gated against the IDENTICAL recursive-CTE
    oracle as the batch fold (events_cusum_user_value_shift): the
    stateful stream must converge to exactly what one batch pass
    computes, the module's standing streaming≡batch argument, here for
    an ORDER-SENSITIVE recurrence (unlike the commutative counters).

    The per-batch update is vectorized by the reflection identity
    S_t = c_t − min(0, min c_j) (numpy cumsum + running min — no
    Python row loop), carried state folds in as the walk offset; the
    identity is unit-equivalent to the Lindley recursion the oracle
    steps. State is O(users)·5 int64s, sharded by key."""
    from ..streaming.pipeline import run_bounded_cusum

    return run_bounded_cusum(spark, sf_dir, _CUSUM_K, _CUSUM_H)


@register(
    "events_seasonal_naive_backtest",
    oracle="""
WITH ev AS (
  SELECT event_type, date_part('hour', ts) AS hod,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro,
         date_part('day', ts) AS dom
  FROM events
),
g AS (
  SELECT event_type, hod,
         CAST(SUM(CASE WHEN dom <= 21 THEN v_micro ELSE 0 END) AS BIGINT)
           AS s_train,
         CAST(SUM(CASE WHEN dom <= 21 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN dom >= 22 THEN v_micro ELSE 0 END) AS BIGINT)
           AS s_test,
         CAST(SUM(CASE WHEN dom >= 22 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test
  FROM ev GROUP BY 1, 2
)
SELECT event_type, CAST(hod AS BIGINT) AS hod, n_train, n_test,
       s_train // n_train AS forecast_micro,
       s_test // n_test AS actual_micro,
       abs(s_train // n_train - s_test // n_test) AS abs_err_micro,
       CASE WHEN s_test // n_test > 0
            THEN (abs(s_train // n_train - s_test // n_test) * 1000000)
                 // (s_test // n_test)
            ELSE NULL END AS ape_ppm
FROM g
WHERE n_train > 0 AND n_test > 0
""",
    tags=("events", "timeseries", "forecast", "backtest", "integer-exact"),
)
def events_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest: the (event_type, hour-of-day)
    mean value over weeks 1–3 forecasts week 4+, scored per cell with
    absolute error and APE — the sanity baseline every fancier
    load-forecasting model must beat, and the backtest harness shape
    (train window / holdout window / per-cell score) itself.

    Integer-exact end to end: values quantize to int64 micro-units at
    the scan (the attribution/EWMA move), train and holdout sums land
    in ONE conditional-aggregation pass, and both means are floor
    divisions — abs error in micro-units, APE in ppm, all int64, so
    the hash gate pins every cell.

    Scale: one fact scan → one (type, hour) partial-agg groupBy; the
    24×5-cell state is trivially broadcastable as the serving
    forecast table."""
    e = _ev(spark, sf_dir)
    g = (
        e.select(
            "event_type",
            F.hour("ts").cast("long").alias("hod"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            ).alias("v_micro"),
            F.dayofmonth("ts").alias("dom"),
        )
        .groupBy("event_type", "hod")
        .agg(
            F.sum(F.when(F.col("dom") <= 21, F.col("v_micro")).otherwise(0))
            .cast("long")
            .alias("s_train"),
            F.sum(F.when(F.col("dom") <= 21, 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("dom") >= 22, F.col("v_micro")).otherwise(0))
            .cast("long")
            .alias("s_test"),
            F.sum(F.when(F.col("dom") >= 22, 1).otherwise(0))
            .cast("long")
            .alias("n_test"),
        )
    )
    return g.filter((F.col("n_train") > 0) & (F.col("n_test") > 0)).selectExpr(
        "event_type",
        "hod",
        "n_train",
        "n_test",
        "s_train DIV n_train AS forecast_micro",
        "s_test DIV n_test AS actual_micro",
        "abs(s_train DIV n_train - s_test DIV n_test) AS abs_err_micro",
        "CASE WHEN s_test DIV n_test > 0"
        " THEN (abs(s_train DIV n_train - s_test DIV n_test) * 1000000)"
        " DIV (s_test DIV n_test)"
        " ELSE NULL END AS ape_ppm",
    )


@register(
    "events_mad_robust_daily_outliers",
    oracle="""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
  FROM events
),
d AS (
  SELECT event_type, day, CAST(SUM(v) AS BIGINT) AS s_micro
  FROM ev GROUP BY 1, 2
),
m AS (SELECT event_type, quantile_cont(s_micro, 0.5) AS med FROM d GROUP BY 1),
dv AS (
  SELECT d.event_type, d.day, d.s_micro, m.med,
         CAST(abs(2 * CAST(s_micro AS DOUBLE) - 2 * med) AS BIGINT) AS dev2
  FROM d JOIN m USING (event_type)
),
md AS (SELECT event_type, quantile_cont(dev2, 0.5) AS mad2 FROM dv GROUP BY 1)
SELECT dv.event_type, dv.day, dv.s_micro, dv.med AS median_micro,
       dv.dev2 AS dev_half_micro,
       CASE WHEN md.mad2 > 0
            THEN CAST(dv.dev2 AS DOUBLE) / ((3.0 * 1.4826) * md.mad2 / 3.0)
            ELSE NULL END AS robust_z,
       CASE WHEN md.mad2 > 0
                 AND CAST(dv.dev2 AS DOUBLE) > (3.0 * 1.4826) * md.mad2
            THEN true ELSE false END AS is_outlier
FROM dv JOIN md USING (event_type)
""",
    tags=("events", "timeseries", "robust-stats", "anomaly"),
)
def events_mad_robust_daily_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust daily-volume anomaly detection: flag (event_type, day)
    cells whose daily value sum deviates from the type's MEDIAN by
    more than 3 robust standard deviations (1.4826·MAD) — the
    median/MAD dual of the z-score monitor (`events_zscore_daily_
    anomaly`), immune to the outliers it hunts (a single blow-out day
    inflates a mean/stddev gate into missing itself; it barely moves
    the median).

    Exactness: daily sums are int64 micro-units; BOTH percentile
    passes run over int64 inputs (the deviation is carried in
    half-micro units — 2·s − 2·median is exactly integral because an
    even-count median ends in .5), where Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the (n−1)·p definition bit-for-bit
    (the conversion-latency precedent); the final z and flag are
    fixed-order per-row double ops on those exact inputs, never a
    cross-row double sum.

    Scale: one fact scan → (type, day) partial-agg groupBy; the
    two median passes and joins run on the localCheckpoint-pinned
    150-row daily table. At 100 TB swap percentile for
    percentile_approx (the documented trade)."""
    e = _ev(spark, sf_dir)
    daily = (
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            ).alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").cast("long").alias("s_micro"))
        # small; pinned because the median/deviation stages consume it
        # repeatedly — without the pin each pass re-scans the fact
        .localCheckpoint(eager=True)
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(s_micro, 0.5)").alias("med")
    )
    dv = daily.join(F.broadcast(med), "event_type").selectExpr(
        "event_type",
        "day",
        "s_micro",
        "med",
        "CAST(abs(2 * CAST(s_micro AS DOUBLE) - 2 * med) AS BIGINT) AS dev2",
    )
    mad = dv.groupBy("event_type").agg(
        F.expr("percentile(dev2, 0.5)").alias("mad2")
    )
    return dv.join(F.broadcast(mad), "event_type").selectExpr(
        "event_type",
        "day",
        "s_micro",
        "med AS median_micro",
        "dev2 AS dev_half_micro",
        "CASE WHEN mad2 > 0"
        " THEN CAST(dev2 AS DOUBLE) / ((3.0 * 1.4826) * mad2 / 3.0)"
        " ELSE NULL END AS robust_z",
        "CASE WHEN mad2 > 0 AND CAST(dev2 AS DOUBLE) > (3.0 * 1.4826) * mad2"
        " THEN true ELSE false END AS is_outlier",
    )


@register(
    "events_ab_conversion_ztest",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                             AND date_part('day', ts) <= 7
                            THEN 1 ELSE 0 END) >= 4
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY 1, 2
),
v AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM u GROUP BY 1
),
w AS (
  SELECT a.n_users AS n_a, a.n_converted AS x_a,
         b.n_users AS n_b, b.n_converted AS x_b
  FROM v a JOIN v b ON a.variant = 0 AND b.variant = 1
)
SELECT variant, n_users, n_converted,
       (n_converted * 1000000) // n_users AS conv_ppm,
       z.z_stat
FROM v CROSS JOIN (
  SELECT CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
              ELSE (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                   / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b)) END AS z_stat
  FROM w
) z
""",
    tags=("events", "experiment", "ab-test", "statistics"),
)
def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment readout — the
    standard experimentation-analysis shape: users split into variants
    by the deterministic hash rule (user_id parity here; production
    uses the same seedless-hash discipline as the split manifests),
    conversion = at least 4 purchases in week 1 (an OR-flag saturates
    at ~100%% on this corpus — every user purchases eventually — which
    degenerates the pooled variance to zero; the thresholded
    high-value definition keeps a real base rate), and the pooled z
    statistic decides significance (|z| > 1.96 ⇒ p < 0.05 two-sided);
    the degenerate all-or-none pooled rate returns NULL on both
    engines instead of 0/0 (Spark ANSI would raise, DuckDB would NaN).

    Exactness: user-level conversion flags and per-variant counts are
    one conditional aggregation each (integers); the conversion rate
    rides as exact integer ppm; the z statistic is a FIXED-ORDER chain
    of double divisions/multiplies and one sqrt over those exact
    integers — IEEE-754 division and sqrt are correctly rounded, so
    both engines produce the identical bits with no cross-row double
    summation anywhere.

    Scale: one fact scan → per-user groupBy (partial agg) → 2-row
    variant agg; the z row is a broadcast cross join. Output: one row
    per variant with counts, ppm rate, and the shared z."""
    e = _ev(spark, sf_dir)
    u = (
        e.select(
            "user_id",
            (F.col("user_id") % 2).alias("variant"),
            F.when(
                (F.col("event_type") == "purchase")
                & (F.dayofmonth("ts") <= 7),
                1,
            )
            .otherwise(0)
            .alias("is_wk1_purchase"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.when(F.sum("is_wk1_purchase") >= 4, 1)
            .otherwise(0)
            .alias("converted")
        )
    )
    v = (
        u.groupBy("variant")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        # 2 rows; pinned — both the variant report and the z pivot
        # consume it, and without the pin each re-derives the fact scan
        .localCheckpoint(eager=True)
    )
    a = v.filter(F.col("variant") == 0).selectExpr(
        "n_users AS n_a", "n_converted AS x_a"
    )
    b = v.filter(F.col("variant") == 1).selectExpr(
        "n_users AS n_b", "n_converted AS x_b"
    )
    z = a.crossJoin(b).selectExpr(
        "CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL"
        " ELSE (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)"
        " / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))"
        " * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))"
        " * (1.0 / n_a + 1.0 / n_b)) END AS z_stat"
    )
    return v.selectExpr(
        "variant",
        "n_users",
        "n_converted",
        "(n_converted * 1000000) DIV n_users AS conv_ppm",
    ).crossJoin(F.broadcast(z))


@register(
    "events_top_trigram_paths",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         LEAD(event_type) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS step1, e2 AS step2, e3 AS step3,
       CAST(COUNT(*) AS BIGINT) AS n
FROM s
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step1, step2, step3
LIMIT 25
""",
    tags=("events", "sequence-mining", "topk"),
)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most-travelled 3-step event paths — sequence mining one
    order above the Markov transition matrix (`events_markov_
    transitions` sees only bigrams; 'view→click→purchase vs
    view→click→error' is a trigram question). Two LEADs from ONE
    user-keyed window pass produce every consecutive triple, a
    partial-agg groupBy counts them, TakeOrdered surfaces the top
    paths with a full deterministic tie-break.

    Scale: one fact scan → one window shuffle keyed by user (state =
    2 look-ahead rows) → count groupBy on ≤ |event_types|³ keys —
    no self-joins, the MATCH_RECOGNIZE-free shape shared with the
    drop-drop-spike detector."""
    e = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type").over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        s.groupBy("step1", "step2", "step3")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(25)
    )


@register(
    "events_theil_sen_daily_trend",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
           AS v_micro
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(FLOOR(CAST(b.v_micro - a.v_micro AS DOUBLE)
                    / date_diff('day', a.day, b.day)) AS BIGINT) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       quantile_cont(slope, 0.5) AS slope_micro_med
FROM pairs GROUP BY event_type
""",
    tags=("events", "timeseries", "robust-statistics", "theil-sen"),
)
def events_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the median of all
    pairwise day-to-day slopes of the daily value total — the
    breakdown-resistant alternative to least-squares (one corrupted
    day can drag an OLS slope arbitrarily; the slope MEDIAN tolerates
    up to ~29% corrupted days), the standard robust companion to the
    MAD outlier gate. Daily totals are exact int64 micro-units, each
    pairwise slope is floor((v2−v1)/Δdays) with the division done on
    exactly-representable doubles (|Δv| ≤ ~2^40 ≪ 2^53) so both
    engines round identically, and the median uses the proven
    percentile ≡ quantile_cont (n−1)·p identity over integers.

    Scale shape: the pairwise join runs on the DAILY AGGREGATE, not
    the raw events — per type the pair count is bounded by the
    calendar (days²/2, e.g. 66k pairs for a year), so the self-join
    is equi-keyed on type and structurally tiny no matter how many
    raw events feed each day; the one fact scan partial-aggregates
    map-side into (type, day) rows first."""
    daily = (
        _ev(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)"))
            .cast("long")
            .alias("v_micro")
        )
    )
    a = daily.select(
        "event_type",
        F.col("day").alias("day_a"),
        F.col("v_micro").alias("v_a"),
    )
    b = daily.select(
        "event_type",
        F.col("day").alias("day_b"),
        F.col("v_micro").alias("v_b"),
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .select(
            "event_type",
            F.expr(
                "CAST(FLOOR(CAST(v_b - v_a AS DOUBLE)"
                " / datediff(day_b, day_a)) AS BIGINT)"
            ).alias("slope"),
        )
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("slope_micro_med"),
    )


@register(
    "events_session_bounce_rate",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
per_sess AS (
  SELECT user_id, session_seq,
         CAST(count(*) AS BIGINT) AS n_events,
         max(CASE WHEN is_new = 1 THEN event_type END) AS entry_type
  FROM sessions GROUP BY user_id, session_seq
)
SELECT entry_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS bounce_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS bounce_ppm
FROM per_sess GROUP BY entry_type
""",
    tags=("events", "sessionization", "product-analytics"),
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session ENTRY event type — the product-analytics
    read on top of gap sessionization: of all sessions that opened
    with a given event type, what fraction ended after that single
    event. Reuses the 30-minute gaps-and-islands session definition
    (`events_sessionization_30m`); the entry event needs NO second
    window pass because it is exactly the ``is_new = 1`` row that
    opened the session, so one user-keyed exchange serves the lag
    window, the running sum, and the per-session aggregate. The rate
    is integer ppm (bounces·10⁶ div sessions — both operands positive,
    truncating and flooring division agree)."""
    e = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_sess = sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max(
            F.when(F.col("is_new") == 1, F.col("event_type"))
        ).alias("entry_type"),
    )
    bounce = F.sum(
        F.when(F.col("n_events") == 1, 1).otherwise(0)
    ).cast("long")
    return per_sess.groupBy("entry_type").agg(
        F.count("*").cast("long").alias("n_sessions"),
        bounce.alias("bounce_sessions"),
        F.expr(
            "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("bounce_ppm"),
    )


#: CUPED regression coefficient and centering, evaluated per row on the
#: broadcast one-row moment stats — a fixed-order chain of double ops
#: over decimal-exact sums, so both engines produce identical bits
_CUPED_THETA = (
    "((sxy - sx * sy / CAST(nu AS DOUBLE))"
    " / (sxx - sx * sx / CAST(nu AS DOUBLE)))"
)
_CUPED_YADJ = f"(y - {_CUPED_THETA} * (x - sx / CAST(nu AS DOUBLE)))"


@register(
    "events_ab_cuped_adjusted",
    oracle=f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         CAST(SUM(CASE WHEN date_part('day', ts) <= 7
                       THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS x,
         CAST(SUM(CASE WHEN date_part('day', ts) >= 8
                       THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx
  FROM u
),
v AS (
  SELECT u.variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CAST(u.y AS DECIMAL(18,6))) AS DOUBLE) AS ysum,
         CAST(SUM(CAST({_CUPED_YADJ} AS DECIMAL(18,6))) AS DOUBLE) AS yadjsum
  FROM u, m GROUP BY 1
)
SELECT v.variant, v.n_users,
       v.ysum / CAST(v.n_users AS DOUBLE) AS mean_value,
       v.yadjsum / CAST(v.n_users AS DOUBLE) AS mean_value_cuped,
       {_CUPED_THETA} AS theta
FROM v, m
""",
    tags=("events", "experiment", "ab-test", "statistics"),
)
def events_ab_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    industry-standard experimentation estimator): per-user experiment
    value (days 8+) adjusted by the pre-experiment covariate (days ≤7),
    ``y' = y − θ(x − x̄)`` with θ = cov(x,y)/var(x) fitted on the
    pooled pre-period. Same variant hash rule as
    events_ab_conversion_ztest; reported per variant next to the
    unadjusted mean so the variance reduction is visible.

    Exactness: per-user x/y and the four moments are decimal-exact
    sums; θ, x̄ and every per-user adjustment are fixed-order scalar
    double ops on those broadcast one-row stats; the per-variant
    adjusted sums go back through decimal. Bit-identical across
    engines and cluster sizes.

    Scale: one fact scan → per-user partial-agg groupBy (pinned:
    consumed by both the moment row and the variant report — the
    AQE-no-reuse rule); the moments are one broadcast row, so the
    adjustment is map-side; the final agg is 2 rows."""
    e = _ev(spark, sf_dir)
    u = (
        e.select(
            "user_id",
            (F.col("user_id") % 2).alias("variant"),
            F.when(
                F.dayofmonth("ts") <= 7, F.col("value").cast(DEC)
            )
            .otherwise(F.lit(0).cast(DEC))
            .alias("xv"),
            F.when(
                F.dayofmonth("ts") >= 8, F.col("value").cast(DEC)
            )
            .otherwise(F.lit(0).cast(DEC))
            .alias("yv"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.sum("xv").cast("double").alias("x"),
            F.sum("yv").cast("double").alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    m = u.agg(
        F.count("*").alias("nu"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,6)"))
        .cast("double")
        .alias("sxx"),
    )
    v = (
        u.crossJoin(F.broadcast(m))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.col("y").cast(DEC)).cast("double").alias("ysum"),
            F.sum(F.expr(_CUPED_YADJ).cast(DEC)).cast("double").alias("yadjsum"),
            F.first(F.expr(_CUPED_THETA)).alias("theta"),
        )
    )
    return v.select(
        "variant",
        "n_users",
        (F.col("ysum") / F.col("n_users").cast("double")).alias("mean_value"),
        (F.col("yadjsum") / F.col("n_users").cast("double")).alias(
            "mean_value_cuped"
        ),
        "theta",
    )


@register(
    "events_variant_shred_props",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS max_k,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_field,
       count(*) AS n_events
FROM events
GROUP BY event_type
""",
    tags=("events", "variant", "semi-structured"),
)
def events_variant_shred_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: props
    parses ONCE into a variant value (``parse_json`` — the open-format
    binary encoding that replaces per-path string re-parsing), then
    every field access is a typed ``variant_get`` over the shredded
    value. At 100 TB this is the difference between N string parses per
    row (get_json_object per path) and one parse feeding N cheap typed
    reads — the semi-structured analog of columnar shredding. A missing
    path returns SQL NULL (counted per group to pin that semantic).
    The oracle reads the same fields via DuckDB's JSON functions, so
    the hash gates the variant path's typed extraction end to end."""
    e = _ev(spark, sf_dir)
    v = e.select(
        "event_type", F.expr("parse_json(props)").alias("v")
    )
    return v.groupBy("event_type").agg(
        F.sum(F.expr("variant_get(v, '$.k', 'int')")).cast("long").alias("sum_k"),
        F.min(F.expr("variant_get(v, '$.k', 'int')")).alias("min_k"),
        F.max(F.expr("variant_get(v, '$.k', 'int')")).alias("max_k"),
        F.sum(
            F.when(
                F.expr("variant_get(v, '$.missing', 'int')").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_missing_field"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_asof_tolerance_last_click_1h",
    oracle="""
WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
purch AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
m AS (
  SELECT p.user_id, p.ts, p.event_id, p.value,
         c.ts AS m_ts, c.value AS m_value
  FROM purch p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT user_id, ts, event_id, value,
       CASE WHEN m_ts >= ts - INTERVAL 1 HOUR THEN m_ts END AS matched_ts,
       CASE WHEN m_ts >= ts - INTERVAL 1 HOUR THEN m_value END AS value_asof,
       CASE WHEN m_ts IS NULL THEN 'no_prior'
            WHEN m_ts >= ts - INTERVAL 1 HOUR THEN 'matched'
            ELSE 'stale' END AS match_status
FROM m
""",
    tags=("events", "asof-join", "tolerance"),
)
def events_asof_tolerance_last_click_1h(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE — the kdb ``wj`` /
    pandas ``merge_asof(tolerance=...)`` semantic the plain as-of
    lacks: each purchase takes its user's last click ONLY if that
    click is within the 1-hour window; older matches are reported as
    'stale' with NULL payload (distinct from 'no_prior'). The
    tolerance is a post-predicate on the as-of match, so the plan is
    the same single user-keyed window pass as
    events_asof_purchase_last_click — no extra join, no extra
    shuffle; at 100 TB tolerance costs nothing beyond the CASE."""
    from ..operators.asof import asof_join

    e = _ev(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    m = asof_join(purch, clicks, on=["user_id"], value_cols=["value"])
    ok = F.col("matched_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return m.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(ok, F.col("matched_ts")).alias("matched_ts"),
        F.when(ok, F.col("value_asof")).alias("value_asof"),
        F.when(F.col("matched_ts").isNull(), F.lit("no_prior"))
        .when(ok, F.lit("matched"))
        .otherwise(F.lit("stale"))
        .alias("match_status"),
    )


LTTB_BUCKETS = 20
#: triangle area ×2 for point (x, y) against the prev/next bucket
#: anchors — one fixed-order double cross product, identical text on
#: both engines (inputs are exact: integer micros and decimal-exact
#: bucket averages)
_LTTB_AREA2 = (
    "abs((ax_prev - ax_next) * (y - ay_prev)"
    " - (ax_prev - x) * (ay_next - ay_prev))"
)


@register(
    "events_lttb_downsample_by_type",
    oracle=f"""
WITH pts AS (
  SELECT event_type, ts, event_id,
         CAST(epoch_us(ts) AS DOUBLE) AS x,
         CAST(value AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bkt AS (
  SELECT *, CASE WHEN rn = 1 THEN 0
                 WHEN rn = n THEN {LTTB_BUCKETS - 1}
                 ELSE 1 + ((rn - 2) * {LTTB_BUCKETS - 2}) // (n - 2)
            END AS b
  FROM pts
),
avgs AS (
  SELECT event_type, b,
         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS ax,
         CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS ay
  FROM bkt GROUP BY event_type, b
),
anch AS (
  SELECT event_type, b,
         lag(ax)  OVER (PARTITION BY event_type ORDER BY b) AS ax_prev,
         lag(ay)  OVER (PARTITION BY event_type ORDER BY b) AS ay_prev,
         lead(ax) OVER (PARTITION BY event_type ORDER BY b) AS ax_next,
         lead(ay) OVER (PARTITION BY event_type ORDER BY b) AS ay_next
  FROM avgs
),
scored AS (
  SELECT bkt.event_type, bkt.b, bkt.ts, bkt.event_id, bkt.y,
         row_number() OVER (
           PARTITION BY bkt.event_type, bkt.b
           ORDER BY {_LTTB_AREA2} DESC, bkt.ts, bkt.event_id
         ) AS pick
  FROM bkt JOIN anch ON bkt.event_type = anch.event_type AND bkt.b = anch.b
  WHERE bkt.b > 0 AND bkt.b < {LTTB_BUCKETS - 1}
)
SELECT event_type, CAST(b AS BIGINT) AS bucket, ts, y AS value
FROM scored WHERE pick = 1
UNION ALL
SELECT event_type, CAST(b AS BIGINT) AS bucket, ts, y AS value
FROM bkt WHERE b = 0 OR b = {LTTB_BUCKETS - 1}
""",
    tags=("events", "timeseries", "downsample"),
)
def events_lttb_downsample_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Visualization-grade downsampling: each event type's value series
    reduced to 20 points by the LTTB family (largest-triangle
    bucketing — Steinarsson 2013): endpoints pinned, interior points
    bucketed by rank, and each bucket keeps the point spanning the
    largest triangle against its neighbor buckets' centroids. This is
    the variant using BOTH neighbors' averages as anchors (classic
    LTTB anchors on the previously SELECTED point — an inherently
    serial recurrence; the averaged-anchor form is order-equivalent in
    practice and embarrassingly parallel: one rank window, one
    bucket aggregate, one lag/lead pass, one per-bucket argmax — every
    stage partial-aggregated, so a billion-point series downsamples in
    one shuffle round). Exactness: x is integer epoch-micros, bucket
    centroids come from decimal-exact sums, the area is one
    fixed-order double cross product shared textually with the oracle,
    and the argmax tie-breaks on (ts, event_id)."""
    from pyspark.sql import Window as W

    e = _ev(spark, sf_dir)
    B = LTTB_BUCKETS
    wo = W.partitionBy("event_type").orderBy("ts", "event_id")
    pts = e.select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(unix_micros(ts) AS DOUBLE)").alias("x"),
        F.col("value").cast("double").alias("y"),
    ).withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(W.partitionBy("event_type"))
    )
    bkt = pts.withColumn(
        "b",
        F.expr(
            f"CASE WHEN rn = 1 THEN 0 WHEN rn = n THEN {B - 1} "
            f"ELSE 1 + ((rn - 2) * {B - 2}) DIV (n - 2) END"
        ),
    ).localCheckpoint(eager=True)  # consumed by avgs AND the score join
    avgs = bkt.groupBy("event_type", "b").agg(
        (
            F.sum(F.col("x").cast("decimal(38,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("ax"),
        (
            F.sum(F.col("y").cast(DEC)).cast("double")
            / F.count("*").cast("double")
        ).alias("ay"),
    )
    wb = W.partitionBy("event_type").orderBy("b")
    anch = avgs.select(
        "event_type",
        "b",
        F.lag("ax").over(wb).alias("ax_prev"),
        F.lag("ay").over(wb).alias("ay_prev"),
        F.lead("ax").over(wb).alias("ax_next"),
        F.lead("ay").over(wb).alias("ay_next"),
    )
    interior = (
        bkt.filter((F.col("b") > 0) & (F.col("b") < B - 1))
        .join(F.broadcast(anch), ["event_type", "b"])
        .withColumn(
            "pick",
            F.row_number().over(
                W.partitionBy("event_type", "b").orderBy(
                    F.expr(_LTTB_AREA2).desc(), "ts", "event_id"
                )
            ),
        )
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("b").cast("long").alias("bucket"),
            "ts",
            F.col("y").alias("value"),
        )
    )
    pinned = bkt.filter((F.col("b") == 0) | (F.col("b") == B - 1)).select(
        "event_type",
        F.col("b").cast("long").alias("bucket"),
        "ts",
        F.col("y").alias("value"),
    )
    return interior.unionByName(pinned)


@register(
    "events_cohort_weekly_retention",
    oracle="""
WITH hv AS (SELECT user_id, ts FROM events WHERE value > 90),
firsts AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM hv GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM hv
),
cohort_sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY cohort_week
),
cells AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT)
           AS week_offset,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM activity a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
       CAST(c.n_active * 1000000 // s.cohort_size AS BIGINT)
         AS retention_ppm
FROM cells c JOIN cohort_sizes s USING (cohort_week)
""",
    tags=("events", "cohort", "retention", "product-analytics"),
)
def events_cohort_weekly_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly cohort retention TRIANGLE — the canonical product-
    analytics read: users grouped by FIRST-SEEN week, each later week's
    distinct-active count as an exact ppm share of the cohort (the
    full cohort×offset matrix; `events_weekly_retention_cohorts` is
    the simpler week-over-week W→W+1 slice of the same question). Scale
    shape: one groupBy derives the cohort map, one DISTINCT collapses
    activity to (user, week) BEFORE the join (the fact table's raw
    volume never reaches it), and both the join and the final agg
    shuffle on user/cohort keys — no window, no driver state.
    Retention is integer ppm (count·1e6 DIV size), so every cell is
    exact on both engines. Cohorts form over HIGH-VALUE actions
    (value > 90, ≈ the top decile) — on the saturated fixture every
    user is active every week, so the unfiltered triangle would be
    degenerate; the filtered one decays for real (138→129→…→71 for
    the first cohort at sf0.01)."""
    ev = _ev(spark, sf_dir).filter(F.col("value") > 90)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    cells = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week"))
             .cast("long") / F.lit(7)).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.expr("CAST(n_active * 1000000 DIV cohort_size AS BIGINT)").alias(
            "retention_ppm"
        ),
    )


def model_scores_by_score(ev: DataFrame) -> DataFrame:
    """The model-eval family's shared collapse: events → score-level
    ``(score, cnt, pos)`` rows (one map-side-combinable groupBy). Both
    the batch AUC/PR-AUC/KS queries and the streaming-maintained score
    table (streaming.pipeline.auc_scores_batch_fn) run THIS stage, so
    the streaming state is additive in exactly the columns the batch
    query aggregates."""
    scored = ev.select(
        F.floor("value").cast("long").alias("score"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("label"),
    )
    return scored.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("label").cast("long").alias("pos"),
    )


def auc_from_by_score(by_score: DataFrame) -> DataFrame:
    """The exact-AUC tail over a ``(score, cnt, pos)`` table: bucketed
    two-pass prefix sum for negatives-below, DECIMAL(38,0) rank-sum
    accumulation, integral ppm division (see
    :func:`events_model_auc_exact` for the full design notes). Shared
    verbatim by the batch query and the streaming-maintained form so
    both are gated by the identical oracle."""
    from ..operators.packing import global_running_total

    pref = global_running_total(
        by_score.withColumn(
            "neg", (F.col("cnt") - F.col("pos")).cast("long")
        ),
        "score",
        "neg",
        out_col="cum_neg_below",
    )
    tot = pref.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum("neg").cast("long").alias("n"),
        F.sum(
            F.col("pos").cast("decimal(38,0)")
            * (F.lit(2) * F.col("cum_neg_below") + F.col("neg"))
        )
        .cast("decimal(38,0)")
        .alias("numer2"),
    )
    return tot.selectExpr(
        "p AS n_pos",
        "n AS n_neg",
        "CAST(numer2 * 1000000 DIV (2 * CAST(p AS DECIMAL(38,0)) * n)"
        " AS BIGINT) AS auc_ppm",
    )


#: shared by the batch query and its streaming-maintained dual — the
#: streaming score table is additive in (cnt, pos), so after the
#: bounded stream drains it EQUALS the batch collapse and one oracle
#: gates both
_AUC_ORACLE = """
WITH scored AS (
  SELECT CAST(floor(value) AS BIGINT) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
by_score AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(label) AS BIGINT) AS pos
  FROM scored GROUP BY score
),
pref AS (
  SELECT score, cnt, pos, cnt - pos AS neg,
         CAST(COALESCE(SUM(cnt - pos) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_neg_below
  FROM by_score
),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(neg) AS BIGINT) AS n FROM pref),
u AS (SELECT CAST(SUM(CAST(pos AS HUGEINT) * (2 * cum_neg_below + neg))
        AS HUGEINT) AS numer2 FROM pref)
SELECT p AS n_pos, n AS n_neg,
       CAST(numer2 * 1000000 // (2 * CAST(p AS HUGEINT) * n) AS BIGINT)
         AS auc_ppm
FROM tot, u
"""


@register(
    "events_model_auc_exact",
    oracle=_AUC_ORACLE,
    tags=("events", "ml-eval", "auc", "integer-exact"),
)
def events_model_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC with tie correction — the offline model-eval
    primitive (here scoring how well `value` predicts the purchase
    label; ≈ 0.4918 on this noise fixture, exactly, which is the
    point: the gate pins the estimator arithmetic, not the model).

    Scale shape: AUC = P(score_pos > score_neg) + ½P(tie) needs no
    per-row rank — one map-side-combinable groupBy collapses the fact
    to SCORE-LEVEL (cnt, pos) rows, and the negatives-below-each-score
    prefix runs through :func:`..operators.packing.
    global_running_total`'s two-pass bucketed prefix sum (the
    `agg_equidepth_price_deciles` machinery): per-bucket windows in
    parallel plus one bounded per-bucket-totals collect — no
    single-task global WindowExec anywhere in the plan (locked by
    `tests/test_plan_audit.py`). Doubling the rank sum keeps the tie
    half-credit integral: auc_ppm = Σ pos_s·(2·cum_neg_below + neg_s)
    · 1e6 DIV (2·P·N), accumulated in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) — numer2·1e6 ≈ n²/2·1e6 exceeds int64 past ~4M events
    and non-ANSI Spark would wrap silently where DuckDB raises; the
    widened types keep the division integral and bit-equal across
    engines to ~10^15 events."""
    return auc_from_by_score(model_scores_by_score(_ev(spark, sf_dir)))


@register(
    "streaming_model_auc_exact",
    oracle=_AUC_ORACLE,
    tags=("events", "ml-eval", "auc", "streaming", "integer-exact"),
)
def streaming_model_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact ROC-AUC maintained STREAMING-SIDE: each micro-batch's
    score-level (cnt, pos) collapse (the identical
    :func:`model_scores_by_score` stage the batch query runs) is
    appended to a committed score table and summed on read under the
    exactly-once commit-log protocol (streaming.pipeline.
    auc_scores_batch_fn — high-watermark replay guard, append-only
    parquet state, same
    machinery as the PSI/CMS/KMV/MG streaming families); after the
    bounded stream drains, the final committed table EQUALS the batch
    collapse, so the :func:`auc_from_by_score` tail is gated by the
    IDENTICAL oracle as `events_model_auc_exact` — live model
    monitoring with a bit-exact correctness story. State is
    distinct-score-sized (value-range bounded), never event-sized."""
    from ..streaming.pipeline import run_bounded_model_auc

    return run_bounded_model_auc(spark, sf_dir)


@register(
    "events_model_pr_auc_exact",
    oracle="""
WITH scored AS (
  SELECT CAST(floor(value) AS BIGINT) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
by_score AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(label) AS BIGINT) AS pos
  FROM scored GROUP BY score
),
ge AS (
  SELECT score, pos,
         CAST(SUM(pos) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos_ge,
         CAST(SUM(cnt) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cnt_ge
  FROM by_score
),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(cnt) AS BIGINT) AS t FROM by_score),
u AS (SELECT CAST(SUM(CAST(pos AS HUGEINT) *
               ((CAST(cum_pos_ge AS HUGEINT) * 1000000000) // cum_cnt_ge))
             AS HUGEINT) AS numer FROM ge)
SELECT p AS n_pos, t - p AS n_neg,
       CAST(p * 1000000 // t AS BIGINT) AS base_rate_ppm,
       CAST(numer // (CAST(p AS HUGEINT) * 1000) AS BIGINT) AS ap_ppm
FROM tot, u
""",
    tags=("events", "ml-eval", "pr-auc", "integer-exact"),
)
def events_model_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT area under the precision-recall curve (average precision,
    the step-interpolated estimator: AP = Σ_s ΔRecall(s)·Precision(s)
    over DESCENDING score thresholds) — the companion the exact
    ROC-AUC needs on imbalanced labels, where ROC flatters the
    majority class; this fixture's ~20% base rate keeps it
    non-degenerate (a random scorer's AP ≈ base rate, so ap_ppm ≈
    base_rate_ppm here — the gate pins the estimator arithmetic).

    Scale shape mirrors `events_model_auc_exact`: one map-side
    combinable groupBy collapses the fact to score-level (cnt, pos)
    rows; the descending cumulatives come from the SAME ascending
    bucketed two-pass prefix sum (:func:`..operators.packing.
    global_running_total`) via cum_ge = total − cum_below, with the
    one-row totals broadcast — no single-task window (locked by
    `tests/test_plan_audit.py`). Integer-exact across engines: each
    threshold's precision is quantized once to integer nano units
    ((cum_pos_ge·1e9) DIV cum_cnt_ge), the recall weight pos_s stays
    integral, and the sum accumulates in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — both engines evaluate the identical
    floor-division sequence, so the result is bit-equal, not merely
    close, to ~10^15 events."""
    from ..operators.packing import global_running_totals

    by_score = model_scores_by_score(_ev(spark, sf_dir))
    # BOTH prefix sums ride the same order ("score"), so they share ONE
    # bucket assignment / window / offsets join via the multi-column
    # form (r15, guide §2.4) — the nested single-column composition
    # paid the whole two-pass machinery (and its approxQuantile driver
    # job, which re-executed the inner machinery just to sketch the
    # same score column) twice. Per-column arithmetic unchanged.
    pref = global_running_totals(
        by_score, "score", ["pos", "cnt"], ["__pos_blw", "__cnt_blw"]
    )
    tot = by_score.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum("cnt").cast("long").alias("t"),
    )
    # cum_ge(X) = total_X − cum_below(X) + current row's X… except the
    # prefix sums here are EXCLUSIVE (strictly below), so the current
    # row is already outside __pos_blw/__cnt_blw: ge = total − below
    # includes the row itself — exactly the DESC-inclusive cumulative.
    ge = pref.crossJoin(F.broadcast(tot)).select(
        "pos",
        (F.col("p") - F.col("__pos_blw")).alias("cum_pos_ge"),
        (F.col("t") - F.col("__cnt_blw")).alias("cum_cnt_ge"),
        "p",
        "t",
    )
    u = ge.agg(
        F.sum(
            F.col("pos").cast("decimal(38,0)")
            * F.expr(
                "CAST(cum_pos_ge AS DECIMAL(38,0)) * 1000000000"
                " DIV cum_cnt_ge"
            )
        )
        .cast("decimal(38,0)")
        .alias("numer"),
        F.max("p").alias("p"),
        F.max("t").alias("t"),
    )
    return u.selectExpr(
        "p AS n_pos",
        "t - p AS n_neg",
        "CAST(p * 1000000 DIV t AS BIGINT) AS base_rate_ppm",
        "CAST(numer DIV (CAST(p AS DECIMAL(38,0)) * 1000) AS BIGINT)"
        " AS ap_ppm",
    )


@register(
    "events_model_lift_deciles",
    oracle="""
WITH scored AS (
  SELECT CAST(floor(value) AS BIGINT) AS score, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
r AS (
  SELECT label,
         ntile(10) OVER (ORDER BY score DESC, event_id) AS decile
  FROM scored
),
d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(label) AS BIGINT) AS n_pos
  FROM r GROUP BY decile
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t,
               CAST(SUM(n_pos) AS BIGINT) AS p FROM d),
c AS (
  SELECT decile, n_events, n_pos,
         CAST(SUM(n_pos) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos
  FROM d
)
SELECT CAST(decile AS INT) AS decile, n_events, n_pos,
       CAST(n_pos * 1000000 // n_events AS BIGINT) AS pos_rate_ppm,
       CAST((CAST(n_pos AS HUGEINT) * t * 1000000)
            // (CAST(n_events AS HUGEINT) * p) AS BIGINT) AS lift_ppm,
       CAST(cum_pos * 1000000 // p AS BIGINT) AS cum_capture_ppm
FROM c, tot
""",
    tags=("events", "ml-eval", "lift", "rank", "integer-exact"),
)
def events_model_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift / cumulative-gains table by score decile — the third leg of
    the offline model-eval family (exact AUC: ranking, calibration:
    probability quality, lift: the campaign-targeting read "how much
    better than random is the top 10/20/…% of scores"). Decile 1 is
    the highest-score tenth; a noise scorer shows lift_ppm ≈ 1 000 000
    flat, which is what this fixture pins.

    Scale shape: the global DESC-score decile assignment rides the
    same bucketed two-pass prefix-sum rank as
    `agg_equidepth_price_deciles` (true ntile semantics via
    compat.sql_ntile_from_rank over a collision-free derived monotone
    key — descending score via max_score − score, tie-broken by
    event_id), so no global sort and no single-task window touches
    the FACT table; the one unpartitioned window that remains runs
    over the ten decile rows — fixed-size at any corpus. Ratios are
    integer ppm with DECIMAL(38,0)/HUGEINT products (lift's n_pos·t
    crosses int64 past ~4M events), floor-divided identically in both
    engines."""
    from ..operators.packing import global_running_total
    from .compat import sql_ntile_from_rank

    ev = _ev(spark, sf_dir)
    scored = ev.select(
        F.floor("value").cast("long").alias("score"),
        F.col("event_id").cast("long").alias("event_id"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )
    stats = scored.agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
        F.min("score").alias("smin"),
        F.max("score").alias("smax"),
        # bucket boundaries for the prefix sum from the SAME agg (r15):
        # one driver-blocking job before the output job, not two —
        # placement affects only balance (packing module docstring)
        F.percentile_approx(
            "score",
            F.array(*[F.lit(i / 32) for i in range(1, 32)]),
            F.lit(1000),
        ).alias("qs"),
    ).head()
    n = int(stats["n"] or 0)
    if n == 0:
        return spark.createDataFrame(
            [],
            "decile int, n_events long, n_pos long, pos_rate_ppm long,"
            " lift_ppm long, cum_capture_ppm long",
        )
    if stats["lo"] < 0:
        raise ValueError("events_model_lift_deciles: negative event_id")
    mult = int(stats["hi"]) + 1
    span = int(stats["smax"]) - int(stats["smin"]) + 1
    if span * mult > (1 << 63) - 1:
        raise ValueError(
            "events_model_lift_deciles: (score span, event_id) key would"
            " overflow int64"
        )
    # monotone int64 key in (score DESC, event_id ASC)
    keyed = scored.withColumn(
        "__k",
        (F.lit(int(stats["smax"])) - F.col("score")) * F.lit(mult)
        + F.col("event_id"),
    ).withColumn("__one", F.lit(1).cast("long"))
    # ascending score quantile q → key-space boundary (smax − q)·mult
    bounds = [
        float((int(stats["smax"]) - int(q)) * mult)
        for q in (stats["qs"] or [])
    ]
    ranked = global_running_total(
        keyed, "__k", "__one", out_col="__rank0", bounds=bounds
    )
    decile = F.expr(sql_ntile_from_rank("__rank0", n, 10))
    d = (
        ranked.select("label", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("label").cast("long").alias("n_pos"),
        )
    )
    tot = d.agg(
        F.sum("n_events").cast("long").alias("t"),
        F.sum("n_pos").cast("long").alias("p"),
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    c = d.withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
    return c.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(decile AS INT) AS decile",
        "n_events",
        "n_pos",
        "CAST(n_pos * 1000000 DIV n_events AS BIGINT) AS pos_rate_ppm",
        "CAST(CAST(n_pos AS DECIMAL(38,0)) * t * 1000000"
        " DIV (CAST(n_events AS DECIMAL(38,0)) * p) AS BIGINT)"
        " AS lift_ppm",
        "CAST(cum_pos * 1000000 DIV p AS BIGINT) AS cum_capture_ppm",
    )


@register(
    "events_model_ks_statistic",
    oracle="""
WITH scored AS (
  SELECT CAST(floor(value) AS BIGINT) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
by_score AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(label) AS BIGINT) AS pos
  FROM scored GROUP BY score
),
pref AS (
  SELECT score,
         CAST(SUM(pos) OVER (ORDER BY score) AS BIGINT) AS cum_pos_le,
         CAST(SUM(cnt - pos) OVER (ORDER BY score) AS BIGINT)
           AS cum_neg_le
  FROM by_score
),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(cnt - pos) AS BIGINT) AS n FROM by_score),
diffs AS (
  SELECT score,
         abs(CAST(cum_pos_le AS HUGEINT) * n
             - CAST(cum_neg_le AS HUGEINT) * p) AS diff
  FROM pref, tot
),
m AS (SELECT MAX(diff) AS maxd FROM diffs)
SELECT p AS n_pos, n AS n_neg,
       CAST(maxd * 1000000 // (CAST(p AS HUGEINT) * n) AS BIGINT)
         AS ks_ppm,
       (SELECT MIN(score) FROM diffs, m WHERE diff = maxd) AS ks_at_score
FROM tot, m
""",
    tags=("events", "ml-eval", "ks", "integer-exact"),
)
def events_model_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov separation between the
    positive and negative score distributions — KS = max_s |F_pos(s) −
    F_neg(s)| over the distinct-score thresholds, the classic
    scorecard-separation readout beside AUC (for a binary scorer,
    KS = max vertical distance of the ROC curve from the diagonal);
    ``ks_at_score`` is the smallest threshold attaining the max (the
    cutoff a deployment would pick). A noise scorer pins KS near 0 —
    the gate, as with the rest of the family, pins the estimator
    arithmetic.

    Scale shape: the inclusive per-score CDFs come from the same
    bucketed two-pass prefix sums as the exact AUC/PR-AUC
    (:func:`..operators.packing.global_running_total` + current row),
    the totals are a one-row broadcast, and the max/argmax are two
    map-side-combinable aggregates over the distinct-score table — no
    single-task window (plan-audited). Exactness: the CDF difference
    is kept as the integer |cum_pos_le·N − cum_neg_le·P| in
    DECIMAL(38,0)/HUGEINT (one product per side, no division until
    the final ppm floor-divide), so max and argmax compare exact
    integers and both engines agree bit-for-bit."""
    from ..operators.packing import global_running_totals

    by_score = model_scores_by_score(_ev(spark, sf_dir))
    # shared-order prefix sums in ONE two-pass machinery (r15 — see
    # events_model_pr_auc_exact); per-column arithmetic unchanged
    pref = global_running_totals(
        by_score.withColumn(
            "neg", (F.col("cnt") - F.col("pos")).cast("long")
        ),
        "score",
        ["pos", "neg"],
        ["__pos_blw", "__neg_blw"],
    )
    tot = by_score.agg(
        F.sum("pos").cast("long").alias("p"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("n"),
    )
    diffs = pref.crossJoin(F.broadcast(tot)).select(
        "score",
        "p",
        "n",
        F.abs(
            (F.col("__pos_blw") + F.col("pos")).cast("decimal(38,0)")
            * F.col("n")
            - (F.col("__neg_blw") + F.col("neg")).cast("decimal(38,0)")
            * F.col("p")
        ).alias("diff"),
    )
    m = diffs.agg(F.max("diff").alias("maxd"))
    return (
        diffs.crossJoin(F.broadcast(m))
        .filter(F.col("diff") == F.col("maxd"))
        .agg(
            F.max("p").alias("p"),
            F.max("n").alias("n"),
            F.max("maxd").alias("maxd"),
            F.min("score").alias("ks_at_score"),
        )
        .selectExpr(
            "p AS n_pos",
            "n AS n_neg",
            "CAST(maxd * 1000000 DIV (CAST(p AS DECIMAL(38,0)) * n)"
            " AS BIGINT) AS ks_ppm",
            "ks_at_score",
        )
    )


@register(
    "events_model_calibration_buckets",
    oracle="""
WITH scored AS (
  SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         AS score_milli_sum,
       CAST(SUM(label) * 1000000 // COUNT(*) AS BIGINT)
         AS observed_rate_ppm
FROM scored GROUP BY bucket
""",
    tags=("events", "ml-eval", "calibration"),
)
def events_model_calibration_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration / reliability curve companion to the exact AUC:
    score buckets (width 50) with the exact integer-milli score mass
    and the observed positive rate in integer ppm — a calibrated model
    shows monotone agreement between the two columns; this fixture's
    noise shows a flat ~20% base rate, exactly. One conditional-
    aggregation scan, map-side combinable, no window."""
    ev = _ev(spark, sf_dir)
    return (
        ev.select(
            F.floor(F.col("value") / 50).cast("long").alias("bucket"),
            F.floor(F.col("value") * 1000).cast("long").alias("score_milli"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("label"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("score_milli").cast("long").alias("score_milli_sum"),
            F.expr(
                "CAST(SUM(label) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("observed_rate_ppm"),
        )
    )


def _woe_oracle_sql() -> str:
    """Oracle twin of events_woe_value_buckets: identical bucket rule,
    identical 2x+1 Laplace smoothing, and the per-VALUE det-ln→ppm
    quantization (each logarithm floored to integer micro-nats BEFORE
    the signed combination, so WOE is an exact int64 on both engines)."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()

    def chain(src: str, xexpr: str, out: str, keep: str) -> str:
        return f"""
{out}_x AS (SELECT {keep}, CAST({xexpr} AS DOUBLE) AS x FROM {src}),
{out}_r AS (SELECT {keep}, x, {st['e']} AS e, {st['m']} AS m FROM {out}_x),
{out}_t AS (SELECT {keep}, e, {st['tt']} AS tt FROM {out}_r),
{out} AS (SELECT {keep},
          CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS lnv
          FROM {out}_t)"""

    return f"""
WITH b AS (
  SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
              AS BIGINT) AS neg
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(neg) AS BIGINT) AS n
        FROM b),
{chain('b', '2 * pos + 1', 'lp', 'bucket, pos, neg')},
{chain('b', '2 * neg + 1', 'ln_', 'bucket')},
{chain('tot', '2 * p + 1', 'ltp', 'p, n')},
{chain('tot', '2 * n + 1', 'ltn', 'p')}
SELECT b.bucket, b.pos, b.neg,
       lp.lnv - ltp.lnv - ln_.lnv + ltn.lnv AS woe_ppm,
       CAST((CAST(b.pos AS HUGEINT) * tot.n - CAST(b.neg AS HUGEINT) * tot.p)
            * (lp.lnv - ltp.lnv - ln_.lnv + ltn.lnv)
            // (CAST(tot.p AS HUGEINT) * tot.n) AS BIGINT) AS iv_ppm
FROM b
JOIN lp USING (bucket) JOIN ln_ USING (bucket)
CROSS JOIN tot CROSS JOIN ltp CROSS JOIN ltn
"""


@register(
    "events_woe_value_buckets",
    oracle=_woe_oracle_sql(),
    tags=("events", "feature-eng", "woe", "integer-exact"),
)
def events_woe_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value — the scorecard
    feature-engineering step: each value bucket (width 10) gets
    WOE = ln(P(bucket|pos)/P(bucket|neg)) against the purchase label,
    and its IV contribution (pos_frac − neg_frac)·WOE says how much
    predictive power the bucketing carries (sum ≥ 0.3 ⇒ strong
    feature). Laplace-smoothed as (2·count+1)/(2·total+1) so empty
    cells stay finite, expressed as the DIFFERENCE of four logarithms
    (never ln of a product — each argument stays far below detmath's
    2^64 domain at any scale).

    Exactness: every ln runs the fixed-order det-ln pipeline and is
    floored to integer micro-nats BEFORE the signed combination, so
    woe_ppm is exact int64 arithmetic on both engines; iv_ppm is the
    DECIMAL(38,0)/HUGEINT product (pos·N − neg·P)·woe_ppm floor-divided
    by P·N (both engines truncate toward zero — verified) — integer to
    the last bit, no float epsilon anywhere.

    Scale shape: one conditional-aggregation scan to the ~10-row bucket
    table (map-side partials), det-ln chains over buckets only, one-row
    totals broadcast — output bounded by bucket count, not row count."""
    import math

    from ..functions.detmath import det_ln, det_ln_stage_exprs

    st = det_ln_stage_exprs()
    ev = _ev(spark, sf_dir)
    b = ev.groupBy(
        F.floor(F.col("value") / 10).cast("long").alias("bucket")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("pos"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 0).otherwise(1)
        ).cast("long").alias("neg"),
    )
    p, n = b.agg(F.sum("pos"), F.sum("neg")).collect()[0]
    p, n = int(p), int(n)
    ltp = int(math.floor(det_ln(float(2 * p + 1)) * 1_000_000))
    ltn = int(math.floor(det_ln(float(2 * n + 1)) * 1_000_000))

    def chain(df: DataFrame, xexpr: str, out: str, keep: list[str]) -> DataFrame:
        ks = ", ".join(keep)
        d1 = df.selectExpr(*keep, f"CAST({xexpr} AS DOUBLE) AS x")
        d2 = d1.selectExpr(*keep, "x", f"{st['e']} AS e", f"{st['m']} AS m")
        d3 = d2.selectExpr(*keep, "e", f"{st['tt']} AS tt")
        return d3.selectExpr(
            *keep, f"CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS {out}"
        )

    lp = chain(b, "2 * pos + 1", "ln_pos", ["bucket", "pos", "neg"])
    both = chain(lp, "2 * neg + 1", "ln_neg", ["bucket", "pos", "neg", "ln_pos"])
    return both.selectExpr(
        "bucket",
        "pos",
        "neg",
        f"ln_pos - {ltp} - ln_neg + {ltn} AS woe_ppm",
        f"CAST((CAST(pos AS DECIMAL(38,0)) * {n} - CAST(neg AS DECIMAL(38,0)) * {p})"
        f"     * (ln_pos - {ltp} - ln_neg + {ltn})"
        f"     DIV (CAST({p} AS DECIMAL(38,0)) * {n}) AS BIGINT) AS iv_ppm",
    )


@register(
    "events_asof_nearest_click",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts, MAX(value) AS value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
purch AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT p.event_id, p.user_id, p.ts, p.value,
         c.ts AS p_ts, c.value AS p_val
  FROM purch p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
),
f AS (
  SELECT p.event_id, c.ts AS n_ts, c.value AS n_val
  FROM purch p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts <= c.ts
),
m AS (
  SELECT b.*, f.n_ts, f.n_val,
         p_ts IS NOT NULL AND (n_ts IS NULL OR
           epoch_us(b.ts) - epoch_us(p_ts) <= epoch_us(n_ts) - epoch_us(b.ts))
           AS take_prev
  FROM b JOIN f USING (event_id)
)
SELECT user_id, ts, event_id, value,
       CASE WHEN take_prev THEN p_ts ELSE n_ts END AS matched_ts,
       CASE WHEN p_ts IS NULL AND n_ts IS NULL THEN NULL
            WHEN take_prev THEN 'prev' ELSE 'next' END AS match_dir,
       CASE WHEN take_prev THEN p_val ELSE n_val END AS value_asof
FROM m
""",
    tags=("events", "asof-join", "nearest"),
)
def events_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas ``merge_asof(direction=
    'nearest')``) — completes the as-of family (backward, backward+
    tolerance, nearest): each purchase takes its user's click closest
    in time, before OR after, equidistant ties to the earlier click.
    The sensor-alignment/feature-join semantic where a measurement
    just after the probe instant is as informative as one just before.

    Plan (operators.asof.asof_join_nearest): the same union-merge as
    the backward as-of — ONE shuffle of |L|+|R| rows on user_id, then
    two window passes over the same partitioning (backward carry +
    forward carry; the second sort reuses the first's exchange) — no
    range join, no candidate blowup; distance compare in exact
    microseconds. The oracle composes DuckDB's two ASOF directions."""
    from ..operators.asof import asof_join_nearest

    e = _ev(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    m = asof_join_nearest(purch, clicks, on=["user_id"], value_cols=["value"])
    return m.select(
        "user_id", "ts", "event_id", "value",
        "matched_ts", "match_dir", "value_asof",
    )
