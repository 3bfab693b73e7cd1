"""Window-shaped operators (SURVEY.md §2.5, §2.6): sessionization (the
y-clustering pattern), latest-per-key, top-k per group, running sums,
alternation counts, periodic record grouping, median gaps.

Every window ORDER BY ends in a unique key so both engines evaluate
identical frames.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .base import dsum, sql_dsum, t

QUERIES = {}
ORACLE = {}


def q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle:
            ORACLE[name] = oracle
        return fn

    return reg


@q(
    "q11_latest_order_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn = 1
""",
)
def q11(spark, sf):
    """latest/earliest filter (docpact contracts.py:295-300)."""
    o = t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@q(
    "q12_top3_per_group",
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey,
                                     l_linenumber) AS rn
  FROM lineitem)
WHERE rn <= 3
""",
)
def q12(spark, sf):
    """top-3 pattern (docpact compress.py:1496 span-count modes)."""
    li = t(spark, sf, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


@q(
    "q13_sessionize_events",
    oracle="""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps)
SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
FROM sess GROUP BY user_id
""",
)
def q13(spark, sf):
    """Gap-based sessionization — the same lag/cumsum pattern as the
    reference's y-row clustering (docpact spatial_text.py:310-325),
    applied to a time axis."""
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.expr("unix_seconds(cast(ts as timestamp))")
    gap = ep - F.lag(ep).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        e.withColumn("new_session", new_s)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@q(
    "q14_running_supplier_revenue",
    oracle=f"""
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
FROM lineitem
""",
)
def q14(spark, sf):
    li = t(spark, sf, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_rev"),
    )


@q(
    "q15_mode_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority AS mode_priority
FROM (
  SELECT o_orderstatus, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
  FROM orders GROUP BY o_orderstatus, o_orderpriority)
WHERE rn = 1
""",
)
def q15(spark, sf):
    """mode()/most_common (docpact compress.py:203-213, 579-591)."""
    o = t(spark, sf, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").count()
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("count"), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )


@q(
    "q16_zebra_alternations",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
  FROM events
), alt AS (
  SELECT user_id,
         CASE WHEN is_click <> LAG(is_click)
              OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS flip
  FROM flagged)
SELECT user_id, CAST(SUM(flip) AS BIGINT) AS n_alternations
FROM alt GROUP BY user_id
""",
)
def q16(spark, sf):
    """Alternation counting (docpact zebra detection compress.py:232-292)."""
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_click = F.when(F.col("event_type") == "click", 1).otherwise(0)
    df = e.withColumn("is_click", is_click)
    flip = F.when(
        F.col("is_click") != F.lag("is_click").over(w), 1
    ).otherwise(0)
    return (
        df.withColumn("flip", flip)
        .groupBy("user_id")
        .agg(F.sum("flip").alias("n_alternations"))
    )


@q(
    "q17_multirow_period",
    oracle="""
WITH numbered AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id,
       (rn - 1) // 2 AS pair_id,
       COUNT(*) AS n_in_pair,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS pair_value
FROM numbered
GROUP BY user_id, (rn - 1) // 2
""",
)
def q17(spark, sf):
    """Periodic multi-row record merge (docpact compress.py:1390-1466):
    rows grouped into period-2 records by row_number."""
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("pair_id", F.floor((F.col("rn") - 1) / 2).cast("bigint"))
        .groupBy("user_id", "pair_id")
        .agg(
            F.count("*").alias("n_in_pair"),
            dsum("value").alias("pair_value"),
        )
    )


@q(
    "q18_median_event_gap",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT user_id,
       QUANTILE_CONT(gap_us, 0.5) AS median_gap_us,
       COUNT(gap_us) AS n_gaps
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY user_id
""",
)
def q18(spark, sf):
    """Median-based adaptive thresholds (docpact spatial_text.py:297-308
    median char width; compress.py:929-936 median column gap)."""
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.expr("unix_micros(cast(ts as timestamp))")
    gap = ep - F.lag(ep).over(w)
    return (
        e.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.expr("percentile(gap_us, 0.5)").alias("median_gap_us"),
            F.count("gap_us").alias("n_gaps"),
        )
    )


# ---------------------------------------------------------------- q41
@q(
    "q41_asof_join",
    oracle="""
WITH refs AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, e.event_type,
       COALESCE(r.ts, TIMESTAMP '1970-01-01') AS last_purchase_ts,
       COALESCE(r.value, -1.0) AS last_purchase_value,
       COALESCE(epoch_us(e.ts) - epoch_us(r.ts), -1) AS gap_us
FROM events e ASOF LEFT JOIN refs r
  ON e.user_id = r.user_id AND e.ts >= r.ts
""",
)
def q41(spark, sf):
    """As-of join (temporal point lookup, the operator Spark's join
    zoo lacks): for every event, the latest purchase by the same user
    at or before the event's timestamp — DuckDB verifies with its
    native ASOF JOIN, Spark implements the UNION + last-non-null
    window pattern (the scale-correct strategy: tag reference rows,
    union with probe rows, one window per key ordered by (ts, tag)
    carrying the last reference forward; ref rows sort before probes
    at equal ts, giving the same >= semantics). The carried value is a
    single (ts, value) STRUCT so both outputs always come from the SAME
    purchase row — two independent last(..., ignorenulls) windows could
    pair a newer ts with an older non-null value when a purchase has a
    NULL value, a (ts, value) combination that never co-occurred.

    Why not a range join: probe x ref per user with a ts inequality is
    O(n*m) BroadcastNestedLoop per key in Spark; the union-window form
    is ONE shuffle on user_id + a linear scan per partition — the
    as-of shape that survives 100 TB of events. Reference timestamps
    are deduplicated per (user_id, ts) by arg-max(event_id) first so
    ties resolve identically in both engines."""
    return asof_last_purchase(t(spark, sf, "events"))


def asof_last_purchase(ev):
    """q41 core over any events-shaped frame (unit tests feed literal
    frames with NULL purchase values, which the shipped corpus lacks)."""
    refs = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("ref_value"))
    )
    probe = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast("timestamp").alias("ref_ts"),
        F.lit(None).cast("double").alias("ref_value"),
    )
    ref = refs.select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        "ts",
        F.lit(0).alias("tag"),
        F.col("ts").alias("ref_ts"),
        "ref_value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # NULL struct on probe rows (when without otherwise), one struct per
    # ref row: last() then carries ts+value as an atomic pair.
    ref_pair = F.when(
        F.col("tag") == 0,
        F.struct(
            F.col("ref_ts").alias("ts"), F.col("ref_value").alias("val")
        ),
    )
    joined = (
        probe.unionByName(ref)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "tag",
            F.last(ref_pair, ignorenulls=True).over(w).alias("lp"),
        )
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.col("lp.ts").alias("last_purchase_ts"),
            F.col("lp.val").alias("last_purchase_value"),
        )
    )
    # no-match sentinels (epoch ts / -1) instead of NULLs: the oracle
    # comparator reads DuckDB through pandas, where NULL ints/timestamps
    # become NaN/NaT and change the column's formatting
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce(
            "last_purchase_ts", F.lit("1970-01-01").cast("timestamp_ntz")
        ).alias("last_purchase_ts"),
        F.coalesce("last_purchase_value", F.lit(-1.0)).alias(
            "last_purchase_value"
        ),
        F.coalesce(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("last_purchase_ts").cast("timestamp")),
            F.lit(-1),
        ).alias("gap_us"),  # NTZ->TZ cast shift cancels in the difference
    )


# ---------------------------------------------------------------- q42
@q(
    "q42_time_rollup",
    oracle="""
WITH b AS (
  SELECT event_type,
         date_trunc('month', ts) AS m,
         date_trunc('day', ts) AS d,
         date_trunc('hour', ts) AS h,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       CASE WHEN GROUPING(h) = 0 THEN 'hour'
            WHEN GROUPING(d) = 0 THEN 'day'
            WHEN GROUPING(m) = 0 THEN 'month'
            ELSE 'all' END AS grain,
       COALESCE(h, d, m, TIMESTAMP '1970-01-01') AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM b
GROUP BY event_type, ROLLUP(m, d, h)
""",
)
def q42(spark, sf):
    """Hypertable-style hierarchical time rollup (the TimescaleDB
    continuous-aggregate shape): per event type, event counts and value
    sums at hour, day, month, and all-time grains in ONE pass —
    GROUP BY event_type, ROLLUP(month, day, hour), the multi-grain
    aggregation a metrics store materializes instead of re-scanning
    per resolution.

    Float discipline: values freeze to integer cents before the sum,
    so every grain's total is exact integer math (a double SUM would
    differ across aggregation orders, let alone engines).

    Scale shape: one shuffle on the grouping-set key with map-side
    partials (Spark expands the rollup BEFORE the exchange, so each
    task emits 4 partial rows per input group); bucket keys are
    time-ordered, so at production the same query over a
    date-partitioned table prunes to the ingest increment — the
    continuous-aggregate refresh pattern."""
    b = t(spark, sf, "events").select(
        "event_type",
        F.date_trunc("month", "ts").alias("m"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # DataFrame.groupingSets (no temp-view side effect): the four
    # rollup prefixes of (m, d, h), each carrying event_type
    et, m, d, h = (F.col(c) for c in ("event_type", "m", "d", "h"))
    agg = b.groupingSets(
        [[et, m, d, h], [et, m, d], [et, m], [et]], et, m, d, h
    ).agg(
        F.grouping("h").alias("gh"),
        F.grouping("d").alias("gd"),
        F.grouping("m").alias("gm"),
        F.count("*").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    return agg.select(
        "event_type",
        F.when(F.col("gh") == 0, "hour")
        .when(F.col("gd") == 0, "day")
        .when(F.col("gm") == 0, "month")
        .otherwise("all")
        .alias("grain"),
        F.coalesce(
            "h", "d", "m", F.lit("1970-01-01").cast("timestamp_ntz")
        ).alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------- q43
_Q43_ANCHOR = "TIMESTAMP_NTZ '2024-01-01 00:00:00'"
_Q43_N = 120  # promo windows: every 6 h + 17 min, 4h23..10h23 long


@q(
    "q43_range_join",
    oracle="""
WITH iv AS (
  SELECT CAST(k AS INTEGER) AS promo_id,
         TIMESTAMP '2024-01-01'
           + INTERVAL (360 * k + 17) MINUTE AS start_ts,
         TIMESTAMP '2024-01-01'
           + INTERVAL (360 * k + 17 + 60 * (k % 7 + 4) + 23) MINUTE
           AS end_ts
  FROM generate_series(0, 119) AS g(k)
)
SELECT iv.promo_id, iv.start_ts, iv.end_ts,
       CAST(count(e.event_id) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_purchases,
       CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                              THEN CAST(round(e.value * 100) AS BIGINT)
                              ELSE 0 END), 0) AS BIGINT) AS sum_cents
FROM iv LEFT JOIN events e
  ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY iv.promo_id, iv.start_ts, iv.end_ts
""",
)
def q43(spark, sf):
    """Range (interval containment) join — the second temporal join
    Spark's zoo lacks (docpact has no analogue; the operator family is
    the brief's explicit ask next to the as-of join): every event is
    matched to EVERY promo window containing its timestamp (windows
    overlap, so one event can hit two — strictly more general than
    q41's latest-one-only as-of), then per-window attribution counts.

    Strategy — bucketed equi-join instead of a theta join: a raw
    `e.ts BETWEEN start AND end` join is a BroadcastNestedLoopJoin
    (every event row probes every interval). Instead both sides are
    binned to 1-hour buckets: each interval explodes to the <=11
    buckets it covers, events compute their bucket arithmetically, the
    join is a plain equi-join on the bucket plus a residual
    `ts ∈ [start, end)` filter (intervals are deliberately NOT
    hour-aligned so the residual does real work). DuckDB verifies with
    its native IEJoin on the raw inequality, so the two engines
    cross-check different physical range-join strategies.

    Scale shape: the interval side broadcasts here (promo tables are
    small); with a large interval table the identical plan becomes a
    shuffle hash join on the bucket key — bucketing bounds fan-out at
    max(interval_len/bucket) rows per interval and keeps the big event
    side to ONE shuffle (or zero with a broadcast). Zero-match windows
    survive via a final left join of the tiny interval spine onto the
    120-group aggregate."""
    k = F.col("id")
    # single source of truth for the interval spec: timestamps AND the
    # bucket list both derive from start_min/end_min, so the exploded
    # bucket range can never drift out from under [start_ts, end_ts)
    start_min = 360 * k + 17
    end_min = start_min + 60 * ((k % 7) + 4) + 23  # exclusive
    anchor = F.expr(_Q43_ANCHOR)
    iv = spark.range(_Q43_N).select(
        k.cast("int").alias("promo_id"),
        F.timestamp_add("MINUTE", start_min, anchor).alias("start_ts"),
        F.timestamp_add("MINUTE", end_min, anchor).alias("end_ts"),
        F.sequence(
            F.floor(start_min / 60), F.floor((end_min - 1) / 60)
        ).alias("buckets"),
    )
    iv_binned = iv.select(
        "promo_id", "start_ts", "end_ts",
        F.explode("buckets").alias("bucket"),
    )
    ev = t(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr(
            f"timestampdiff(HOUR, {_Q43_ANCHOR}, ts)"
        ).alias("bucket"),
    )
    matched = (
        ev.join(F.broadcast(iv_binned), "bucket")
        .filter(
            (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("end_ts"))
        )
        .groupBy("promo_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("n_purchases"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents"))
                .otherwise(F.lit(0))
            ).alias("sum_cents"),
        )
    )
    spine = iv.select("promo_id", "start_ts", "end_ts")
    # both sides are |intervals|-bounded; broadcast the build (right)
    # side so the zero-match backfill adds no exchange
    return spine.join(F.broadcast(matched), "promo_id", "left").select(
        "promo_id", "start_ts", "end_ts",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
        F.coalesce("n_purchases", F.lit(0)).cast("long").alias(
            "n_purchases"
        ),
        F.coalesce("sum_cents", F.lit(0)).cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------- q44
# Ordered conversion funnel: signup -> view -> click -> purchase.  A
# stage counts only if it happens AT OR AFTER the user's first reach of
# the previous stage (strictly ordered first-touch attribution — the
# standard product-analytics funnel, which no single Spark builtin
# expresses).
_Q44_EPOCH = "TIMESTAMP '1970-01-01'"

_Q44_ORACLE = """
WITH e AS (SELECT user_id, ts, event_type, event_id FROM events),
x1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS m1 FROM e),
x2 AS (SELECT *, min(CASE WHEN event_type = 'view'
                          AND m1 IS NOT NULL THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS m2 FROM x1),
x3 AS (SELECT *, min(CASE WHEN event_type = 'click'
                          AND m2 IS NOT NULL THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS m3 FROM x2),
agg AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS s1,
         min(CASE WHEN event_type = 'view'
                  AND m1 IS NOT NULL THEN ts END) AS s2,
         min(CASE WHEN event_type = 'click'
                  AND m2 IS NOT NULL THEN ts END) AS s3,
         min(CASE WHEN event_type = 'purchase'
                  AND m3 IS NOT NULL THEN ts END) AS s4
  FROM x3 GROUP BY user_id
)
SELECT user_id,
       CAST(CASE WHEN s4 IS NOT NULL THEN 4 WHEN s3 IS NOT NULL THEN 3
                 WHEN s2 IS NOT NULL THEN 2 WHEN s1 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_depth,
       COALESCE(s1, TIMESTAMP '1970-01-01') AS signup_ts,
       COALESCE(s2, TIMESTAMP '1970-01-01') AS first_view_ts,
       COALESCE(s3, TIMESTAMP '1970-01-01') AS first_click_ts,
       COALESCE(s4, TIMESTAMP '1970-01-01') AS first_purchase_ts,
       COALESCE(epoch_us(s4) - epoch_us(s1), -1) AS funnel_lag_us
FROM agg
"""


@q("q44_event_funnel", oracle=_Q44_ORACLE)
def q44(spark, sf):
    """Per-user ordered conversion funnel (signup -> view -> click ->
    purchase, first-touch attribution): the chained-window pattern.

    Strategy: m_k = running min over (user, ts, event_id) of stage-k
    timestamps QUALIFIED by m_{k-1} being set — because the running
    frame ends at the current row, "m_{k-1} IS NOT NULL" is exactly
    "stage k-1 was first reached at or before this row".  The three
    chained window expressions share ONE window spec, so the physical
    plan is a single Exchange on user_id + one Sort feeding three
    stacked Window operators (verified: Exchange(3) -> Sort(4) ->
    Window(5,7,9)), then the per-user aggregate — the funnel never re-sorts
    or re-shuffles, the shape that survives 10^12 events.  Sentinels:
    epoch / -1 instead of NULLs (pandas NaT/NaN comparator discipline).
    """
    return event_funnel(t(spark, sf, "events"))


def event_funnel(ev):
    """q44 core over any events-shaped frame (unit tests feed literal
    frames with out-of-order stage arrivals)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )

    def first_reach(ev_type, gate):
        cond = F.col("event_type") == ev_type
        if gate is not None:
            cond = cond & F.col(gate).isNotNull()
        return F.min(F.when(cond, F.col("ts"))).over(w)

    x = (
        ev.select("user_id", "ts", "event_type", "event_id")
        .withColumn("m1", first_reach("signup", None))
        .withColumn("m2", first_reach("view", "m1"))
        .withColumn("m3", first_reach("click", "m2"))
    )
    agg = x.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "s1"
        ),
        F.min(
            F.when(
                (F.col("event_type") == "view") & F.col("m1").isNotNull(),
                F.col("ts"),
            )
        ).alias("s2"),
        F.min(
            F.when(
                (F.col("event_type") == "click") & F.col("m2").isNotNull(),
                F.col("ts"),
            )
        ).alias("s3"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("m3").isNotNull(),
                F.col("ts"),
            )
        ).alias("s4"),
    )
    epoch = F.lit("1970-01-01").cast("timestamp_ntz")
    return agg.select(
        "user_id",
        F.when(F.col("s4").isNotNull(), 4)
        .when(F.col("s3").isNotNull(), 3)
        .when(F.col("s2").isNotNull(), 2)
        .when(F.col("s1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("funnel_depth"),
        F.coalesce("s1", epoch).alias("signup_ts"),
        F.coalesce("s2", epoch).alias("first_view_ts"),
        F.coalesce("s3", epoch).alias("first_click_ts"),
        F.coalesce("s4", epoch).alias("first_purchase_ts"),
        F.coalesce(
            F.unix_micros(F.col("s4").cast("timestamp"))
            - F.unix_micros(F.col("s1").cast("timestamp")),
            F.lit(-1),
        ).alias("funnel_lag_us"),
    )


# ---------------------------------------------------------------- q45
# Weekly cohort retention (the classic growth-analytics triangle): a
# user's cohort is the epoch-week of their FIRST event; retention at
# offset k = share of the cohort active k weeks later.  Integer ppm
# division keeps the ratio engine-exact.
_Q45_ORACLE = """
WITH e AS (
  SELECT user_id, ts,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS wk
  FROM events
),
firsts AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
active AS (
  SELECT DISTINCT f.cohort_wk, e.wk - f.cohort_wk AS offset_wk, e.user_id
  FROM e JOIN firsts f ON f.user_id = e.user_id
),
sizes AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_cohort
          FROM firsts GROUP BY cohort_wk)
SELECT a.cohort_wk, CAST(a.offset_wk AS BIGINT) AS offset_wk,
       CAST(count(*) AS BIGINT) AS n_active, s.n_cohort,
       CAST((1000000 * count(*)) // s.n_cohort AS BIGINT) AS retention_ppm
FROM active a JOIN sizes s ON s.cohort_wk = a.cohort_wk
GROUP BY a.cohort_wk, a.offset_wk, s.n_cohort
"""


@q("q45_cohort_retention", oracle=_Q45_ORACLE)
def q45(spark, sf):
    """Weekly cohort retention triangle over the events stream.

    Scale shape: ONE scan of the event stream — cohort assignment is
    one window (min over the user partition; the Window operator still
    sorts its partition, one Exchange + Sort total), then the (cohort,
    offset, user) distinct and the count are map-side-combined shuffles
    on tiny keys.  Cohort SIZE needs no second scan: a user's first
    event is by definition in their cohort week, so n_cohort = n_active
    at offset 0 — the counts relation (cohort x offset rows, KBs at any
    corpus size) is persisted and self-joined.  retention_ppm =
    1000000 * active div cohort_size (integer div, engine-exact)."""
    e = t(spark, sf, "events").select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
            / 7
        ).alias("wk"),
    )
    e = e.withColumn(
        "cohort_wk", F.min("wk").over(W.partitionBy("user_id"))
    )
    active = e.select(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("offset_wk"),
        "user_id",
    ).distinct()
    counts = (
        active.groupBy("cohort_wk", "offset_wk")
        .agg(F.count("*").alias("n_active"))
        .persist()  # feeds both the offset-0 sizes branch and the join
    )
    sizes = counts.filter(F.col("offset_wk") == 0).select(
        "cohort_wk", F.col("n_active").alias("n_cohort")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_wk")
        .select(
            "cohort_wk",
            F.col("offset_wk").cast("long").alias("offset_wk"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("n_cohort").cast("long").alias("n_cohort"),
            F.expr("CAST(1000000 * n_active div n_cohort AS BIGINT)").alias(
                "retention_ppm"
            ),
        )
    )


# ---------------------------------------------------------------- q55
# Sequence-pattern detection — the MATCH_RECOGNIZE (SQL:2016) gap:
# find every view -> click -> purchase run of IMMEDIATELY consecutive
# events per user (event-time order, event_id tie-break) and report
# the match count + the first matching purchase.  The Spark
# formulation is pure window lags; the oracle deliberately uses a
# DIFFERENT formulation (per-user initials string + substring count,
# the classic sequence-as-string trick — all five event types have
# distinct initials) so the two engines cross-check the semantics,
# not just the arithmetic.
_Q55_ORACLE = """
WITH s AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS seq,
         list(event_id ORDER BY ts, event_id) AS ids
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST((len(seq) - len(replace(seq, 'vcp', ''))) // 3
            AS INTEGER) AS n_matches,
       ids[strpos(seq, 'vcp') + 2] AS first_match_event_id
FROM s WHERE strpos(seq, 'vcp') > 0
"""


def sequence_matches(events, stages):
    """MATCH_RECOGNIZE-style detector for an arbitrary consecutive
    stage tuple: per user the match count and first matching final
    event.  The lag chain extends with the pattern length — still
    ONE window."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = events.select("user_id", "event_id", "ts", "event_type")
    cond = F.col("event_type") == stages[-1]
    for i, stage in enumerate(reversed(stages[:-1]), start=1):
        e = e.withColumn(f"l{i}", F.lag("event_type", i).over(w))
        cond = cond & (F.col(f"l{i}") == stage)
    return e.filter(cond).groupBy("user_id").agg(
        F.count("*").cast("int").alias("n_matches"),
        F.min(F.struct("ts", "event_id"))
        .getField("event_id")
        .alias("first_match_event_id"),
    )


@q("q55_sequence_pattern", oracle=_Q55_ORACLE)
def q55(spark, sf):
    """MATCH_RECOGNIZE-style sequence detection: per user the count
    of view -> click -> purchase consecutive-event runs and the
    event_id of the first matching purchase; users with no match
    emit nothing.

    Scale shape: ONE window over the per-user event order (two lags
    ride the same sort), then a per-user aggregate — exactly the
    sessionization exchange; no self-joins, no pattern automaton
    state beyond the fixed lag depth.  Longer patterns extend the lag
    chain; gaps/quantifiers (A B* C) become the lag-over-filtered-
    stream variant — all still one window.  The oracle's
    string-fold formulation is the cross-check, not the scale path
    (it materializes whole user histories)."""
    return sequence_matches(
        t(spark, sf, "events"), ("view", "click", "purchase")
    )
