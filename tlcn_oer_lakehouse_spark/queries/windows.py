"""Event-time window queries over ``events`` — tumbling, sliding and
session windows, the batch twins of the Structured Streaming operators in
streaming/ingest.py (unified batch/streaming: same grouping, same
measures; the stream adds a watermark).

The reference has no streaming/window capability at all (SURVEY §2.9) —
these are the north-star additions, oracle-verified via date-bucket /
gaps-and-islands SQL.

Scale notes: tumbling/sliding aggs shuffle once on (window, key) with
map-side partial aggregation; session windows shuffle on user and sort
within partitions — at 100 TB the user key is high-cardinality so
partitions stay balanced; in streaming mode the same plans run with
bounded watermark state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load, load_events

_DUCK_TS = "make_timestamp((epoch_ns(ts) // 1000000000) * 1000000)"


def tumbling_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """1-day tumbling windows per event_type: count + exact value sum."""
    ev = load_events(spark, sf)
    return (
        ev.groupBy(F.window(F.col("ts"), "1 day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("string").cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


TUMBLING_SQL = f"""
SELECT CAST(date_trunc('day', {_DUCK_TS}) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def sliding_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """2-hour windows sliding every 1 hour — each event lands in exactly
    two windows."""
    ev = load_events(spark, sf)
    return (
        ev.groupBy(F.window(F.col("ts"), "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


SLIDING_SQL = f"""
WITH shifted AS (
  SELECT date_trunc('hour', {_DUCK_TS}) - INTERVAL (off) HOUR AS window_start
  FROM events, unnest([0, 1]) AS t(off)
)
SELECT window_start, COUNT(*) AS n_events
FROM shifted
GROUP BY 1
ORDER BY 1
"""


def session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user session windows with a 6-hour inactivity gap
    (``F.session_window`` — the streaming-native stateful operator, run
    in batch mode). Emits one row per session: start, end (last event +
    gap), event count."""
    ev = load_events(spark, sf)
    return (
        ev.groupBy(F.session_window(F.col("ts"), "6 hours"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_SQL = f"""
WITH ts_ev AS (
  SELECT user_id, {_DUCK_TS} AS t FROM events
),
flagged AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   > INTERVAL 6 HOUR
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ts_ev
),
sessions AS (
  SELECT user_id, t,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(t) AS session_start,
       MAX(t) + INTERVAL 6 HOUR AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# bucketed range join
# ---------------------------------------------------------------------------

_EPOCH_2024 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
_IV_STRIDE = 4 * 3600  # overlapping campaign windows: 6 h every 4 h
_IV_LEN = 6 * 3600


def range_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join (events × 100 overlapping 6-hour windows)
    via :func:`~tlcn_oer_lakehouse_spark.operators.rangejoin.bucketed_range_join`
    — the equi-join bucketing strategy Spark lacks natively; a naive
    BETWEEN join would plan as a BroadcastNestedLoopJoin and fail the
    registry-wide plan lint."""
    from tlcn_oer_lakehouse_spark.operators.rangejoin import bucketed_range_join

    ev = load_events(spark, sf).select("event_id", "ts_sec", "value")
    base = F.lit(_EPOCH_2024) + F.col("id") * _IV_STRIDE
    intervals = spark.range(100).select(
        F.col("id").alias("interval_id"),
        base.alias("lo_sec"),
        (base + _IV_LEN).alias("hi_sec"),
    )
    joined = bucketed_range_join(
        ev, intervals, "ts_sec", "lo_sec", "hi_sec", bucket_width=_IV_LEN
    )
    return (
        joined.groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("string").cast("double"), 2
            ).alias("sum_value"),
        )
        .orderBy("interval_id")
    )


RANGE_INTERVAL_SQL = f"""
WITH ev AS (
  SELECT event_id, epoch_ns(ts) // 1000000000 AS ts_sec, value FROM events
),
iv AS (
  SELECT i AS interval_id,
         {_EPOCH_2024} + i * {_IV_STRIDE} AS lo_sec,
         {_EPOCH_2024} + i * {_IV_STRIDE} + {_IV_LEN} AS hi_sec
  FROM (SELECT unnest(generate_series(0, 99)) AS i)
)
SELECT interval_id, COUNT(*) AS n_events,
       round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 2) AS sum_value
FROM iv JOIN ev ON ev.ts_sec BETWEEN iv.lo_sec AND iv.hi_sec
GROUP BY interval_id
ORDER BY interval_id
"""


# --- spatial radius join -----------------------------------------------
# Deterministic point layout: each entity hashes to integer coordinates
# in [0, 1e6)² via md5 (portable across engines, the simhash/minhash
# hash-family discipline).  Distances stay EXACT INTEGERS (squared, no
# sqrt) so the output is engine-identical with zero float discipline.
#
# The probe radius ADAPTS to point density: r = 0.8·extent/√n_points,
# giving ≈2 expected matches per probe site at every scale factor — a
# FIXED radius with both tables growing inside a fixed extent would
# make the output (and any engine's work) quadratic in scale, the
# exact trap the r9b fraction-sampling kill documented (a rate that
# looks like a lever at one sf is a quadratic at the next decade).
# Derived from the parquet footer (required=True parity discipline) on
# the Spark side and FLOOR(SQRT(COUNT(*))) in the oracle — the
# isqrt-schedule convention the kmeans family established.
_GEO_EXTENT = 1_000_000


def _geo_xy(key: Column, tag: str) -> tuple[Column, Column]:
    h = F.md5(F.concat(key.cast("string"), F.lit(tag)))
    x = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _GEO_EXTENT
    y = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % _GEO_EXTENT
    return x, y


def j_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval×interval OVERLAP join (operators/rangejoin.py:
    bucketed_interval_overlap_join): which user sessions overlap which
    campaign windows, and by how many seconds — the two-sided range
    join ``j_range_interval``'s point-in-interval operator can't
    express.  Both sides tile into 6h buckets and equi-join; each
    overlapping pair is emitted in its FIRST shared bucket only (an
    exact integer condition — no dropDuplicates shuffle, plan-pinned),
    then the exact residual filter applies.  The oracle is the naive
    overlap theta-join over gaps-and-islands sessions, so the green
    certifies tiling + dedup are lossless.  All arithmetic is integer
    epoch seconds."""
    from tlcn_oer_lakehouse_spark.operators.rangejoin import (
        bucketed_interval_overlap_join,
    )

    ev = load_events(spark, sf)
    sess = (
        ev.groupBy(F.session_window(F.col("ts"), "6 hours"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("s_lo"),
            F.col("session_window.end").cast("long").alias("s_hi"),
        )
    )
    base = F.lit(_EPOCH_2024) + F.col("id") * _IV_STRIDE
    iv = spark.range(100).select(
        F.col("id").alias("interval_id"),
        base.alias("iv_lo"),
        (base + _IV_LEN).alias("iv_hi"),
    )
    joined = bucketed_interval_overlap_join(
        sess, iv, "s_lo", "s_hi", "iv_lo", "iv_hi", bucket_width=_IV_LEN
    )
    return joined.select(
        "interval_id",
        "user_id",
        F.col("s_lo").alias("session_start_sec"),
        (
            F.least(F.col("s_hi"), F.col("iv_hi"))
            - F.greatest(F.col("s_lo"), F.col("iv_lo"))
        ).alias("overlap_sec"),
    ).orderBy("interval_id", "user_id", "session_start_sec")


J_OVERLAP_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS s FROM events
),
flagged AS (
  SELECT user_id, s,
         CASE WHEN s - lag(s) OVER (PARTITION BY user_id ORDER BY s) > 21600
              OR lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
),
sess AS (
  SELECT user_id, s,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
sessions AS (
  SELECT user_id, MIN(s) AS s_lo, MAX(s) + 21600 AS s_hi
  FROM sess GROUP BY user_id, sid
),
iv AS (
  SELECT i AS interval_id,
         {_EPOCH_2024} + i * {_IV_STRIDE} AS iv_lo,
         {_EPOCH_2024} + i * {_IV_STRIDE} + {_IV_LEN} AS iv_hi
  FROM (SELECT unnest(generate_series(0, 99)) AS i)
)
SELECT interval_id, user_id, s_lo AS session_start_sec,
       least(s_hi, iv_hi) - greatest(s_lo, iv_lo) AS overlap_sec
FROM sessions JOIN iv ON s_lo <= iv_hi AND s_hi >= iv_lo
ORDER BY interval_id, user_id, session_start_sec
"""


def w14_association_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Directed association rules A→B over order baskets (Agrawal &
    Srikant VLDB'94 — the rule-mining step ON TOP of the co-occurrence
    counting w10 covers): support, confidence and lift per ordered
    brand pair, pruned at min-support 1% and min-confidence 10%.

    Baskets are per-order DISTINCT brand sets (items = lineitem ⋈
    broadcast part dim), so the pair self-join keyed on order is
    bounded by (|brand vocabulary| choose 2) per order — a constant —
    and every aggregate is a combinable count.  Thresholds compare
    EXACT INTEGERS (n_pair·100 ≥ N, n_pair·10 ≥ n_antecedent): no
    float boundary can flip a rule in or out between engines; the
    ratio columns themselves ship as single unrounded divisions of
    identical integers (the r9 unrounded-estimate discipline)."""
    # NOTE: no broadcast hint on the part lookup — part is fact-sized
    # (2M rows at sf10, 20B at 100 TB), so the brand lookup must stay a
    # planner decision (auto-broadcast at test scale, shuffle join at
    # cluster scale); a true brand DIM would be the broadcast side, but
    # the registry works off the raw tables.
    part = load(spark, sf, "part").select("p_partkey", "p_brand")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    items = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n = items.agg(F.countDistinct("ok").alias("n_baskets"))
    supp = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select("ok", F.col("item").alias("item_a"))
    b = items.select("ok", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    rules = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_pair",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "n_pair",
        )
    )
    sa = supp.select(F.col("item").alias("antecedent"), F.col("n_item").alias("n_ante"))
    sb = supp.select(F.col("item").alias("consequent"), F.col("n_item").alias("n_cons"))
    return (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("n_pair") * 100 >= F.col("n_baskets"))
            & (F.col("n_pair") * 10 >= F.col("n_ante"))
        )
        .select(
            "antecedent",
            "consequent",
            F.col("n_pair").alias("n_joint"),
            (F.col("n_pair") / F.col("n_baskets")).alias("support"),
            (F.col("n_pair") / F.col("n_ante")).alias("confidence"),
            (
                (F.col("n_pair") * F.col("n_baskets"))
                / (F.col("n_ante") * F.col("n_cons"))
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


W14_RULES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
supp AS (SELECT item, COUNT(*) AS n_item FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item
),
rules AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_pair FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, n_pair FROM pairs
)
SELECT r.antecedent, r.consequent, r.n_pair AS n_joint,
       r.n_pair / n.n_baskets AS support,
       r.n_pair / sa.n_item AS confidence,
       (r.n_pair * n.n_baskets) / (sa.n_item * sb.n_item) AS lift
FROM rules r
CROSS JOIN n
JOIN supp sa ON sa.item = r.antecedent
JOIN supp sb ON sb.item = r.consequent
WHERE r.n_pair * 100 >= n.n_baskets AND r.n_pair * 10 >= sa.n_item
ORDER BY antecedent, consequent
"""


def _geo_radius(sf: str) -> int:
    """Density-adaptive probe radius: ≈2 expected customer matches per
    supplier site at any scale (see module comment above)."""
    import math

    from tlcn_oer_lakehouse_spark.queries.base import parquet_num_rows

    n_cust = parquet_num_rows(sf, "customer", required=True)
    return (4 * _GEO_EXTENT) // (5 * math.isqrt(n_cust))


def j_spatial_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial radius join (operators/spatial.py): which customers sit
    within the density-adaptive radius of each supplier site, on a
    deterministic md5 point layout.  Candidates via 3×3 neighbor-cell
    equi-join with the supplier side expanded and broadcast; exact
    integer dist² residual — the oracle is the banded theta-join, so
    the green certifies the grid decomposition is lossless."""
    from tlcn_oer_lakehouse_spark.operators.spatial import grid_radius_join

    radius = _geo_radius(sf)
    sx, sy = _geo_xy(F.col("s_suppkey"), "s")
    sites = load(spark, sf, "supplier").select(
        "s_suppkey", sx.alias("x"), sy.alias("y")
    )
    cx, cy = _geo_xy(F.col("c_custkey"), "c")
    custs = load(spark, sf, "customer").select(
        "c_custkey", cx.alias("x"), cy.alias("y")
    )
    return grid_radius_join(
        sites, custs, radius, keys=("s_suppkey", "c_custkey")
    ).orderBy("s_suppkey", "c_custkey")


# The |dx|<=r / |dy|<=r band predicates are REDUNDANT with dist²<=r²
# (lossless) — they exist so DuckDB can plan an IEJoin instead of a
# full cross product at the bigger probe scales.
J_SPATIAL_SQL = f"""
WITH params AS (
  SELECT (4 * {_GEO_EXTENT}) //
         (5 * CAST(FLOOR(SQRT((SELECT COUNT(*) FROM customer))) AS BIGINT)) AS r
),
s AS (
  SELECT s_suppkey,
         CAST('0x' || substring(md5(CAST(s_suppkey AS VARCHAR) || 's'), 1, 8) AS BIGINT) % {_GEO_EXTENT} AS x,
         CAST('0x' || substring(md5(CAST(s_suppkey AS VARCHAR) || 's'), 9, 8) AS BIGINT) % {_GEO_EXTENT} AS y
  FROM supplier
),
c AS (
  SELECT c_custkey,
         CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || 'c'), 1, 8) AS BIGINT) % {_GEO_EXTENT} AS x,
         CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || 'c'), 9, 8) AS BIGINT) % {_GEO_EXTENT} AS y
  FROM customer
)
SELECT s.s_suppkey, c.c_custkey,
       (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) AS dist_sq
FROM s, c, params p
WHERE c.x BETWEEN s.x - p.r AND s.x + p.r
  AND c.y BETWEEN s.y - p.r AND s.y + p.r
  AND (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) <= p.r * p.r
ORDER BY s_suppkey, c_custkey
"""


def w8_activity_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern on distinct active days: ``day -
    row_number`` is constant within a run of consecutive days, so one
    user-keyed window plus two aggregates produce streak lengths with no
    self-join.  Integer day math (epoch seconds div 86400) is
    engine-exact."""
    from pyspark.sql import Window

    days = (
        load_events(spark, sf)
        .select("user_id", F.expr("ts_sec div 86400").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("streak_len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.sum("streak_len").alias("active_days"),
        )
        .orderBy("user_id")
    )


W8_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, COUNT(*) AS streak_len
  FROM islands GROUP BY user_id, grp
)
SELECT user_id, MAX(streak_len) AS longest_streak,
       COUNT(*) AS n_streaks,
       CAST(SUM(streak_len) AS BIGINT) AS active_days
FROM streaks
GROUP BY user_id
ORDER BY user_id
"""


def w7_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov
    estimate): consecutive event pairs via ``lead()`` over each user's
    time-ordered stream, counted globally, with the per-source
    transition probability — the sequence-mining primitive behind
    session-flow and next-event-prediction features.  One user-keyed
    window + one tiny groupBy; the probability divides exact counts."""
    from pyspark.sql import Window

    ev = load_events(spark, sf).select("user_id", "event_type", "ts_ns", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_from = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p",
            F.round(F.col("n") / F.sum("n").over(w_from), 9),
        )
        .orderBy("from_type", "to_type")
    )


W7_TRANSITIONS_SQL = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY epoch_ns(ts), event_id) AS to_type
  FROM events
),
counts AS (
  SELECT event_type AS from_type, to_type, COUNT(*) AS n
  FROM ordered WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n / SUM(n) OVER (PARTITION BY from_type), 9) AS p
FROM counts
ORDER BY from_type, to_type
"""


def w6_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their first active epoch
    week; for each (cohort_week, weeks_since_first) cell, how many of
    that cohort were active — the standard product-analytics retention
    triangle.  Two user-keyed aggregations sharing one partitioning;
    integer week math (epoch seconds div 604800) is engine-exact."""
    ev = load_events(spark, sf).select(
        "user_id", F.expr("ts_sec div 604800").alias("week")
    )
    weeks = ev.distinct()
    first = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


W6_COHORT_SQL = """
WITH weeks AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 1000000000 // 604800 AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id)
SELECT cohort_week, week - cohort_week AS weeks_since, COUNT(*) AS n_users
FROM weeks JOIN first USING (user_id)
GROUP BY cohort_week, weeks_since
ORDER BY cohort_week, weeks_since
"""


def w5_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user, the
    first view, the first click strictly after it, the first purchase
    strictly after that; one summary row with stage counts and mean
    time-to-convert.  Three co-keyed aggregations + user_id equi-joins —
    every shuffle shares the user key, so at scale the funnel is one
    partitioning reused end-to-end (no event-order window over the whole
    stream)."""
    ev = load_events(spark, sf).select("user_id", "event_type", "ts_ns")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts_ns") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts_ns") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t3"))
    )
    funnel = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    return funnel.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
        F.round(
            F.sum((F.col("t3") - F.col("t1")).cast("decimal(38,0)")).cast("string").cast("double")
            / F.count("t3")
            / F.lit(1000000000.0),
            6,
        ).alias("avg_conversion_sec"),
    )


W5_FUNNEL_SQL = """
WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS ts_ns FROM events),
t1 AS (SELECT user_id, MIN(ts_ns) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(e.ts_ns) AS t2
       FROM ev e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts_ns > t1.t1 GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(e.ts_ns) AS t3
       FROM ev e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts_ns > t2.t2 GROUP BY e.user_id)
SELECT COUNT(t1.t1) AS n_view,
       COUNT(t2.t2) AS n_click_after_view,
       COUNT(t3.t3) AS n_purchase_after_click,
       round(CAST(CAST(SUM(CAST(t3.t3 - t1.t1 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
             / COUNT(t3.t3) / 1000000000.0, 6) AS avg_conversion_sec
FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


# z-normalized "spike" template for subsequence search; length == _TS_L
_TS_L = 8
_TS_TEMPLATE = (0.0, 1.0, 3.0, 7.0, 3.0, 1.0, 0.0, -1.0)


def ts_subsequence_search(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series subsequence similarity search (the streaming-data
    similarity shape of EDBT'19, distilled): every length-8 subsequence
    of each user's value series — materialized as ``lead()`` columns,
    never per-row lists — is z-normalized and scored against a
    z-normalized spike template by squared distance; top-3 windows per
    user.  One shuffle on user_id; constant-width arithmetic thereafter,
    so the plan is a single windowed scan at any corpus size.  Flat/
    constant windows (zero variance) are excluded — z-scores are
    undefined there (mirrored in the oracle)."""
    import math

    L, tmpl = _TS_L, _TS_TEMPLATE
    tm = sum(tmpl) / L
    tsd = math.sqrt(sum(x * x for x in tmpl) / L - tm * tm)
    tz = [(x - tm) / tsd for x in tmpl]

    from pyspark.sql import Window

    ev = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    leads = [F.lead("value", j).over(w).alias(f"v{j}") for j in range(L)]
    base = ev.select("user_id", "event_id", *leads).filter(
        F.col(f"v{L - 1}").isNotNull()
    )
    sv = sum((F.col(f"v{j}") for j in range(1, L)), F.col("v0"))
    sv2 = sum((F.col(f"v{j}") * F.col(f"v{j}") for j in range(1, L)),
              F.col("v0") * F.col("v0"))
    m = sv / F.lit(float(L))
    var = sv2 / F.lit(float(L)) - m * m
    scored = base.withColumn("m", m).withColumn("var", var).filter(
        F.col("var") > 0
    ).withColumn("s", F.sqrt(F.col("var")))
    dist = None
    for j in range(L):
        term = (F.col(f"v{j}") - F.col("m")) / F.col("s") - F.lit(tz[j])
        term = term * term
        dist = term if dist is None else dist + term
    ranked = (
        scored.withColumn("dist", F.round(dist, 9))
        .select("user_id", F.col("event_id").alias("start_event_id"), "dist")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("dist").asc(), F.col("start_event_id").asc()
                )
            ),
        )
        .filter(F.col("rnk") <= 3)
        .select("user_id", "start_event_id", "dist", "rnk")
        .orderBy("user_id", "rnk")
    )
    return ranked


def _ts_subseq_sql() -> str:
    import math

    L, tmpl = _TS_L, _TS_TEMPLATE
    tm = sum(tmpl) / L
    tsd = math.sqrt(sum(x * x for x in tmpl) / L - tm * tm)
    tz = [(x - tm) / tsd for x in tmpl]
    lead_cols = ", ".join(
        f"lead(value, {j}) OVER w AS v{j}" for j in range(L)
    )
    sv = " + ".join(f"v{j}" for j in range(L))
    sv2 = " + ".join(f"v{j} * v{j}" for j in range(L))
    dist = " + ".join(
        f"((v{j} - m) / s - ({tz[j]!r})) * ((v{j} - m) / s - ({tz[j]!r}))"
        for j in range(L)
    )
    return f"""
WITH led AS (
  SELECT user_id, event_id, {lead_cols}
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
),
stats AS (
  SELECT user_id, event_id, {", ".join(f"v{j}" for j in range(L))},
         ({sv}) / {float(L)} AS m,
         ({sv2}) / {float(L)} - (({sv}) / {float(L)}) * (({sv}) / {float(L)}) AS var
  FROM led WHERE v{L - 1} IS NOT NULL
),
scored AS (
  SELECT user_id, event_id, m, sqrt(var) AS s,
         {", ".join(f"v{j}" for j in range(L))}
  FROM stats WHERE var > 0
),
ranked AS (
  SELECT user_id, event_id AS start_event_id, round({dist}, 9) AS dist,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY round({dist}, 9) ASC, event_id ASC) AS rnk
  FROM scored
)
SELECT user_id, start_event_id, dist, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
ORDER BY user_id, rnk
"""


def w9_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent sessions per event type via the sweep-line
    (interval-stabbing) pattern: each event opens a 30-minute session
    ``[ts, ts+1800)``; +1/-1 boundary deltas union together, a running
    sum over each type's time-ordered boundary stream tracks active
    sessions, and the max of that running sum is the answer.  One keyed
    shuffle on the (low-cardinality, evenly loaded) event type; ends
    sort before starts at the same instant because the interval is
    half-open.  The classic alternative — self-joining events against
    overlapping events — is O(n·overlap) and skew-bound; the sweep is
    linear in boundaries.

    Scale bound (stated, not hidden): the running sum is an ordered
    window PARTITION BY event_type, so one task materializes one type's
    full boundary stream — bounded by DISTINCT TIME INSTANTS per type
    (the pre-aggregate collapses same-instant deltas), not by event
    volume, but still a single-task ceiling if one type spans billions
    of instants.  The 100 TB swap mirrors the two-phase prefix sum used
    in queries/traindata.py: chunk each type's instants into ranges,
    aggregate per-chunk delta sums, prefix-sum the per-chunk totals
    (tiny), then broadcast chunk offsets back for an embarrassingly
    parallel within-chunk running sum — same result, no single-task
    scan."""
    from pyspark.sql import Window

    ev = load_events(spark, sf).select("event_type", "ts_sec")
    starts = ev.select(
        "event_type", F.col("ts_sec").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type", (F.col("ts_sec") + 1800).alias("t"), F.lit(-1).alias("delta")
    )
    bounds = starts.unionByName(ends)
    # per (type, instant): ends first (delta asc) — aggregate deltas at
    # the same instant so window ordering has a deterministic total key
    agg = bounds.groupBy("event_type", "t").agg(F.sum("delta").alias("d"))
    w = Window.partitionBy("event_type").orderBy("t")
    running = agg.withColumn("active", F.sum("d").over(w))
    return (
        running.groupBy("event_type")
        .agg(
            F.max("active").alias("peak_concurrent"),
            F.count(F.lit(1)).alias("n_boundary_instants"),
        )
        .orderBy("event_type")
    )


W9_CONCURRENCY_SQL = """
WITH ev AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
bounds AS (
  SELECT event_type, ts_sec AS t, 1 AS delta FROM ev
  UNION ALL
  SELECT event_type, ts_sec + 1800 AS t, -1 AS delta FROM ev
),
agg AS (SELECT event_type, t, SUM(delta) AS d FROM bounds GROUP BY 1, 2),
running AS (
  SELECT event_type, t,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t) AS active
  FROM agg
)
SELECT event_type,
       CAST(MAX(active) AS BIGINT) AS peak_concurrent,
       COUNT(*) AS n_boundary_instants
FROM running GROUP BY event_type ORDER BY event_type
"""


def w10_cooccurrence_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence: which event-type pairs the same user
    performs, with support (distinct users) and lift against independent
    marginals — the A-Priori first pass / recommendation-seed primitive.
    Baskets are per-user *distinct* type sets, so pair fan-out per user
    is bounded by (|type vocabulary| choose 2), a constant — the pair
    self-join is keyed on user_id and cannot blow up however many raw
    events a hot user has.  Lift divides exact counts at the end."""
    baskets = load_events(spark, sf).select("user_id", "event_type").distinct()
    n_users = load_events(spark, sf).select("user_id").distinct().count()
    a = baskets.select("user_id", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    marg = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("m"))
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("event_type").alias("type_a"),
                                    F.col("m").alias("m_a"))), "type_a")
        .join(
            F.broadcast(marg.select(F.col("event_type").alias("type_b"),
                                    F.col("m").alias("m_b"))), "type_b")
        .select(
            "type_a", "type_b", "support",
            F.round(
                F.col("support") * F.lit(n_users)
                / (F.col("m_a") * F.col("m_b")),
                9,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


W10_COOCCUR_SQL = """
WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS support
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
marg AS (SELECT event_type, COUNT(*) AS m FROM baskets GROUP BY 1)
SELECT p.type_a, p.type_b, p.support,
       round(p.support * nu.n / (ma.m * mb.m), 9) AS lift
FROM pairs p
JOIN marg ma ON p.type_a = ma.event_type
JOIN marg mb ON p.type_b = mb.event_type
CROSS JOIN nu
ORDER BY type_a, type_b
"""


def rec_item_item_cf(spark: SparkSession, sf: str) -> DataFrame:
    """Item-to-item collaborative filtering (the Amazon 2003 shape) on
    the co-purchase matrix: parts sharing an order co-occur, similarity
    is co-count cosine ``c_ab / sqrt(n_a · n_b)`` against per-item order
    frequencies, and each item keeps its top-5 most similar items.
    Scale shape: pair generation is bounded per order (≤ 21 pairs at 7
    items), frequencies are one groupBy, the top-k is one item-keyed
    window — no user×item matrix ever materializes, which is what makes
    the item-based formulation the scale-path over user-based CF."""
    from pyspark.sql import Window

    from tlcn_oer_lakehouse_spark.functions.ids import packed_pairs, unpacked_pair

    # ARRAY-COMBINATION pair generation (r12, the g_jaccard_neighbors
    # wedge precedent): one groupBy(ok) collects each order's sorted
    # distinct item array (collect_set dedups in the same aggregate the
    # former separate li.distinct() shuffle paid), and the co-occurrence
    # pairs are the C(k,2) i<j combinations, emitted PACKED into one
    # long (functions/ids.py:packed_pairs — partkeys are < 2^31 at any
    # TPC-H scale under ~10k, a larger one fails the query, and the
    # packed key halves the pair-aggregate's key bytes, guide §2.3
    # narrow types).  This replaces the ok-self-join +
    # two-long groupBy: interleaved A/B at sf0.1 min 4.48 → 3.16 s
    # (1.42×), identical checksums.  The per-order frame feeds both the
    # frequency aggregate and the pair explode — localCheckpoint, the
    # same contract as the g_jaccard neighbor arrays.
    orders = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.array_sort(F.collect_set("pk")).alias("items"))
        .localCheckpoint()
    )
    freq = (
        orders.select(F.explode("items").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    u, v = unpacked_pair("p")
    co = (
        orders.select(F.explode(packed_pairs("items")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(u.alias("u"), v.alias("v"), "c")
    )
    # both orientations from ONE pass over the co-occurrence aggregate
    # (the union form replayed the lineitem self-join + groupBy twice)
    sym = co.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v"), F.col("c").alias("c")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v"), F.col("c").alias("c")),
            )
        ).alias("e")
    ).select("e.u", "e.v", "e.c")
    scored = (
        sym.join(freq.select(F.col("pk").alias("u"), F.col("n").alias("nu")), "u")
        .join(freq.select(F.col("pk").alias("v"), F.col("n").alias("nv")), "v")
        .select(
            "u", "v",
            F.round(F.col("c") / F.sqrt(F.col("nu") * F.col("nv")), 9).alias("sim"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("sim").desc(), F.col("v").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(F.col("u").alias("item"), F.col("v").alias("rec"), "sim",
                F.col("rn").alias("rank"))
        .orderBy("item", "rank")
    )


REC_CF_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
freq AS (SELECT pk, COUNT(*) AS n FROM li GROUP BY 1),
co AS (
  SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2
),
sym AS (SELECT u, v, c FROM co UNION ALL SELECT v, u, c FROM co),
scored AS (
  SELECT s.u, s.v, round(s.c / sqrt(fu.n * fv.n), 9) AS sim
  FROM sym s JOIN freq fu ON s.u = fu.pk JOIN freq fv ON s.v = fv.pk
),
ranked AS (
  SELECT u, v, sim,
         row_number() OVER (PARTITION BY u ORDER BY sim DESC, v ASC) AS rn
  FROM scored
)
SELECT u AS item, v AS rec, sim, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 5 ORDER BY item, rank
"""


def j_salted_hot_key(spark: SparkSession, sf: str) -> DataFrame:
    """Salted join as a driver-verified query: the event stream joins a
    per-type dimension through :func:`salted_join` (8-way replication of
    the dimension, deterministic xxhash64 scatter of the fact side) and
    aggregates per type.  ``event_type`` has cardinality 5 — exactly the
    power-law-hot-key shape where a plain shuffle join puts 20% of the
    fact table on one reducer and salting spreads it 8 ways.

    Salting is a pure partitioning trick, so the ORACLE IS THE PLAIN
    EQUI-JOIN — the driver's hash compare proves result-identity, the
    property the whole technique rests on (the salt column must never
    leak into results or change multiplicities)."""
    from tlcn_oer_lakehouse_spark.operators.skew import salted_join

    ev = load_events(spark, sf).select("event_id", "event_type", "value")
    dim = (
        load_events(spark, sf)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
    )
    joined = salted_join(ev, dim, "event_type", salt=8)
    return (
        joined.groupBy("event_type", "type_total")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("string").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


J_SALTED_SQL = """
WITH dim AS (SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY event_type)
SELECT e.event_type, d.type_total,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type, d.type_total
ORDER BY e.event_type
"""


def ts_mad_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Robust anomaly detection over event values: per event_type
    median + MAD (median absolute deviation), then the 1.4826-scaled
    robust z-score per event — the outlier gate that survives the
    heavy-tailed distributions where mean/stddev break.

    Plan: two per-type exact-median aggregations (types are few → tiny
    groups) + two broadcast joins of the per-type stats back onto the
    stream; the events table itself is touched map-side only.  Exact
    interpolated medians replay via quantile_cont (same idiom as
    a_exact_percentile)."""
    ev = load_events(spark, sf).select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    z = F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 9).alias("robust_z"),
            (z > 3.5).alias("is_anomaly"),
        )
        .orderBy("event_id")
    )


TS_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT event_id, e.event_type, value, abs(value - med) AS adev
  FROM events e JOIN med ON e.event_type = med.event_type
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT event_id, dev.event_type, value,
       round(adev / (1.4826 * mad), 9) AS robust_z,
       (adev / (1.4826 * mad) > 3.5) AS is_anomaly
FROM dev JOIN mad ON dev.event_type = mad.event_type
ORDER BY event_id
"""


def w11_rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation over the event stream — recency (days
    idle vs the corpus horizon), frequency (event count), monetary
    (exact purchase-value sum), each cut into quintiles and concatenated
    into the classic 3-digit segment (quintile 1 = best on each axis).

    Determinism: recency is integer seconds → integer-div days; monetary
    orders by the EXACT decimal sum; every ntile orders with a
    ``user_id`` tie-break, so quintile assignment is total-ordered in
    both engines.  Scale note: a global ntile is a single-partition sort
    — fine for a per-run segmentation report (|users| rows, not
    |events|); at 100 TB users swap it for approx-percentile cutoffs
    broadcast-joined back (same shape as td_token_budget_shards'
    scalable twin)."""
    from pyspark.sql import Window

    ev = load_events(spark, sf)
    per = ev.groupBy("user_id").agg(
        F.max("ts_sec").alias("last_sec"),
        F.count(F.lit(1)).alias("frequency"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,6)"),
                )
            ),
            F.lit(0).cast("decimal(18,6)"),
        ).alias("mon_dec"),
    )
    horizon = per.agg(F.max("last_sec").alias("horizon_sec"))
    base = per.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.expr("(horizon_sec - last_sec) div 86400").alias("recency_days"),
        "frequency",
        "mon_dec",
    )
    r_q = F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), F.col("user_id").asc()))
    f_q = F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), F.col("user_id").asc()))
    m_q = F.ntile(5).over(Window.orderBy(F.col("mon_dec").desc(), F.col("user_id").asc()))
    return (
        base.select(
            "user_id",
            "recency_days",
            "frequency",
            F.col("mon_dec").cast("double").alias("monetary"),
            r_q.alias("r_quintile"),
            f_q.alias("f_quintile"),
            m_q.alias("m_quintile"),
        )
        .withColumn(
            "rfm_segment",
            F.concat_ws(
                "",
                F.col("r_quintile").cast("string"),
                F.col("f_quintile").cast("string"),
                F.col("m_quintile").cast("string"),
            ),
        )
        .orderBy("user_id")
    )


W11_RFM_SQL = """
WITH per AS (
  SELECT user_id,
         CAST(MAX(epoch_ns(ts) // 1000000000) AS BIGINT) AS last_sec,
         COUNT(*) AS frequency,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,6)) END),
                  0) AS mon_dec
  FROM events GROUP BY user_id
),
h AS (SELECT CAST(MAX(last_sec) AS BIGINT) AS horizon_sec FROM per),
base AS (
  SELECT user_id,
         (horizon_sec - last_sec) // 86400 AS recency_days,
         frequency, mon_dec
  FROM per, h
),
q AS (
  SELECT user_id, recency_days, frequency,
         CAST(mon_dec AS DOUBLE) AS monetary,
         ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r_quintile,
         ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f_quintile,
         ntile(5) OVER (ORDER BY mon_dec DESC, user_id ASC) AS m_quintile
  FROM base
)
SELECT *,
       CAST(r_quintile AS VARCHAR) || CAST(f_quintile AS VARCHAR)
         || CAST(m_quintile AS VARCHAR) AS rfm_segment
FROM q
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# seasonal decomposition (hour-of-day profile + deseasonalized residuals)
# ---------------------------------------------------------------------------


def ts_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Classical seasonal decomposition for event values with an
    hour-of-day period: per (event_type, hour) the seasonal component is
    the decimal-exact mean, residual = value − trend − seasonal where
    trend is the per-type global mean and seasonal is the hour mean's
    offset from it.  Output: the 24-hour seasonal profile per type with
    residual dispersion — the shape a seasonality-aware anomaly monitor
    consumes.  Plan: two partial-agg groupBys + one broadcast of the
    (type × 24)-row profile; the event stream is touched map-side only.
    All means divide decimal-exact sums (base.py determinism contract);
    the residual spread quantizes |value − hour_mean| with the
    floor(·1e8 + 0.5) fixed-point device so its sum is exact decimal —
    never an order-dependent float fold."""
    ev = load_events(spark, sf).select("event_type", "ts_sec", "value")
    # integer division on BOTH sides: float-division + CAST AS INT
    # truncates in Spark but rounds in DuckDB
    hour = F.expr("(ts_sec % 86400) div 3600").cast("int")
    base = ev.select("event_type", hour.alias("hour"), "value")
    n_h = F.count(F.lit(1))
    hourly = base.groupBy("event_type", "hour").agg(
        n_h.alias("n_events"),
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("string").cast("double") / n_h
         ).alias("hour_mean"),
    )
    n_t = F.count(F.lit(1))
    overall = base.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("string").cast("double") / n_t
         ).alias("type_mean")
    )
    seasonal = F.col("hour_mean") - F.col("type_mean")
    resid = F.col("value") - F.col("hour_mean")
    prof = hourly.join(F.broadcast(overall), "event_type")
    # |residual| quantized with the floor(·+0.5) fixed-point device (see
    # ml_covariance_block: double→DECIMAL casts of arbitrary doubles are
    # NOT cross-engine reproducible, floor on the shared double is)
    q_resid = F.floor(F.abs(resid) * F.lit(100000000.0) + F.lit(0.5))
    spread = (
        base.join(F.broadcast(prof), ["event_type", "hour"])
        .groupBy("event_type", "hour")
        .agg(
            (F.sum(q_resid.cast("decimal(38,0)")).cast("string").cast("double")
             / F.count(F.lit(1)) / F.lit(100000000.0)).alias("mean_abs_resid")
        )
    )
    return (
        prof.join(spread, ["event_type", "hour"])
        .select(
            "event_type", "hour", "n_events",
            F.round(seasonal, 9).alias("seasonal"),
            F.round(F.col("type_mean"), 9).alias("type_mean"),
            "mean_abs_resid",
        )
    )


TS_SEASONAL_SQL = """
WITH ev AS (
  SELECT event_type, epoch_ns(ts)//1000000000 AS ts_sec, value FROM events
),
base AS (
  SELECT event_type, CAST((ts_sec % 86400) // 3600 AS INT) AS hour, value FROM ev
),
hourly AS (
  SELECT event_type, hour, COUNT(*) AS n_events,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS hour_mean
  FROM base GROUP BY event_type, hour
),
overall AS (
  SELECT event_type,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS type_mean
  FROM base GROUP BY event_type
),
prof AS (SELECT h.*, o.type_mean FROM hourly h JOIN overall o USING (event_type)),
spread AS (
  SELECT b.event_type, b.hour,
         CAST(CAST(SUM(CAST(floor(abs(b.value - p.hour_mean) * 100000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) / 100000000.0 AS mean_abs_resid
  FROM base b JOIN prof p ON b.event_type = p.event_type AND b.hour = p.hour
  GROUP BY b.event_type, b.hour
)
SELECT p.event_type, p.hour, p.n_events,
       round(p.hour_mean - p.type_mean, 9) AS seasonal,
       round(p.type_mean, 9) AS type_mean,
       s.mean_abs_resid
FROM prof p JOIN spread s ON p.event_type = s.event_type AND p.hour = s.hour
"""


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (double exponential smoothing)
# ---------------------------------------------------------------------------

_HOLT_DAYS = 28
_HOLT_ALPHA = 0.5   # dyadic: α·x is exact double scaling
_HOLT_BETA = 0.25


def ts_holt_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt's linear-trend method (double exponential smoothing) over
    each event type's DAILY value totals: level/trend recursions
    ℓ_t = α·y_t + (1−α)(ℓ+b), b_t = β(ℓ_t−ℓ) + (1−β)b, unrolled for a
    fixed 28 days, forecasting 1/3/7 days ahead — the classic
    workload-forecasting operator.

    Determinism: daily y_t are decimal-exact sums (missing days → 0);
    the smoothing constants are dyadic so every recursion step is exact
    double scaling/addition with the SAME expression tree in both
    engines; the whole trajectory therefore hash-matches.  Plan shape:
    one (type, day) partial-agg groupBy, a 28-column pivot of the tiny
    (types × 28) frame, then the fold as chained column expressions —
    map-only after the single keyed shuffle."""
    ev = load_events(spark, sf).select("event_type", "ts_sec", "value")
    day0 = ev.agg(F.expr("min(ts_sec) div 86400").alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(day0))
        .withColumn("day_idx", F.expr("ts_sec div 86400") - F.col("d0"))
        .filter(F.col("day_idx") < _HOLT_DAYS)
        .groupBy("event_type", "day_idx")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("string").cast("double").alias("y"))
    )
    wide = daily.groupBy("event_type").pivot(
        "day_idx", list(range(_HOLT_DAYS))
    ).sum("y")
    for k in range(_HOLT_DAYS):
        wide = wide.withColumn(f"y{k}", F.coalesce(F.col(f"{k}"), F.lit(0.0)))
    a, b = _HOLT_ALPHA, _HOLT_BETA
    dp = wide.withColumn("l1", F.col("y1")).withColumn(
        "b1", F.col("y1") - F.col("y0")
    )
    for t in range(2, _HOLT_DAYS):
        prev_l, prev_b = F.col(f"l{t-1}"), F.col(f"b{t-1}")
        lt = F.lit(a) * F.col(f"y{t}") + F.lit(1 - a) * (prev_l + prev_b)
        dp = dp.withColumn(f"l{t}", lt)
        dp = dp.withColumn(
            f"b{t}",
            F.lit(b) * (F.col(f"l{t}") - prev_l) + F.lit(1 - b) * prev_b,
        )
    last = _HOLT_DAYS - 1
    lvl, trd = F.col(f"l{last}"), F.col(f"b{last}")
    return dp.select(
        "event_type",
        lvl.alias("level"),
        trd.alias("trend"),
        (lvl + F.lit(1.0) * trd).alias("forecast_1d"),
        (lvl + F.lit(3.0) * trd).alias("forecast_3d"),
        (lvl + F.lit(7.0) * trd).alias("forecast_7d"),
    )


def _holt_oracle() -> str:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    ys = ",\n         ".join(
        f"COALESCE(MAX(CASE WHEN day_idx = {k} THEN y END), 0.0) AS y{k}"
        for k in range(_HOLT_DAYS)
    )
    steps = ["l1 AS (SELECT *, y1 AS l_1, y1 - y0 AS b_1 FROM wide)"]
    for t in range(2, _HOLT_DAYS):
        steps.append(
            f"l{t} AS (SELECT *, "
            f"{a} * y{t} + {1 - a} * (l_{t-1} + b_{t-1}) AS l_{t}, "
            f"{b} * (({a} * y{t} + {1 - a} * (l_{t-1} + b_{t-1})) - l_{t-1})"
            f" + {1 - b} * b_{t-1} AS b_{t} FROM l{t-1})"
        )
    last = _HOLT_DAYS - 1
    steps_sql = ",\n".join(steps)
    return f"""
WITH ev AS (
  SELECT event_type, epoch_ns(ts)//1000000000 AS ts_sec, value FROM events
),
day0 AS (SELECT MIN(ts_sec) // 86400 AS d0 FROM ev),
daily AS (
  SELECT event_type, ts_sec // 86400 - d0 AS day_idx,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS y
  FROM ev CROSS JOIN day0
  WHERE ts_sec // 86400 - d0 < {_HOLT_DAYS}
  GROUP BY event_type, ts_sec // 86400 - d0
),
wide AS (
  SELECT event_type,
         {ys}
  FROM daily GROUP BY event_type
),
{steps_sql}
SELECT event_type, l_{last} AS level, b_{last} AS trend,
       l_{last} + 1.0 * b_{last} AS forecast_1d,
       l_{last} + 3.0 * b_{last} AS forecast_3d,
       l_{last} + 7.0 * b_{last} AS forecast_7d
FROM l{last}
"""


# ---------------------------------------------------------------------------
# last-touch marketing attribution
# ---------------------------------------------------------------------------


def w12_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's latest strictly-preceding touch event (click or view), or
    'direct' when none precedes.  The scale-correct as-of shape — ONE
    user-keyed window over the touch∪purchase union with an
    ignore-nulls last() — never a touches×purchases per-user join whose
    fan-out explodes on hot users.  Equal-timestamp touches sort before
    the purchase (is_purchase tie-break) and event_id totalizes the
    order, so the attribution is deterministic and oracle-replayable.
    Output: per attributed type, purchase count and mean touch→purchase
    gap (decimal-exact ns sum → one rounded division)."""
    ev = load_events(spark, sf).select("event_id", "user_id", "event_type", "ts_ns")
    rows = ev.filter(F.col("event_type").isin("view", "click", "purchase")).select(
        "user_id", "ts_ns", "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        F.when(F.col("event_type") != "purchase",
               F.struct(F.col("ts_ns").alias("t_ts"),
                        F.col("event_type").alias("t_type"))).alias("touch"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = (
        rows.withColumn("last_touch", F.last("touch", ignorenulls=True).over(w))
        .filter(F.col("is_purchase") == 1)
        .select(
            F.coalesce(F.col("last_touch.t_type"), F.lit("direct")).alias("attributed_type"),
            (F.col("ts_ns") - F.col("last_touch.t_ts")).alias("gap_ns"),
        )
    )
    return attributed.groupBy("attributed_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(
            F.sum(F.col("gap_ns").cast("decimal(38,0)")).cast("string").cast("double")
            / F.count("gap_ns") / F.lit(1000000000.0),
            6,
        ).alias("avg_gap_sec"),
    )


W12_ATTRIBUTION_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts_ns FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
rows_ AS (
  SELECT user_id, ts_ns, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
         CASE WHEN event_type != 'purchase' THEN ts_ns END AS t_ts,
         CASE WHEN event_type != 'purchase' THEN event_type END AS t_type
  FROM ev
),
attr AS (
  SELECT is_purchase, ts_ns,
         last_value(t_ts IGNORE NULLS) OVER w AS lt_ts,
         last_value(t_type IGNORE NULLS) OVER w AS lt_type
  FROM rows_
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, is_purchase, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT COALESCE(lt_type, 'direct') AS attributed_type,
       COUNT(*) AS n_purchases,
       round(CAST(CAST(SUM(CAST(ts_ns - lt_ts AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
             / COUNT(ts_ns - lt_ts) / 1000000000.0, 6) AS avg_gap_sec
FROM attr WHERE is_purchase = 1
GROUP BY COALESCE(lt_type, 'direct')
"""


def w13_conversion_time_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution of view→purchase conversion time for funnel
    completers (w5's t3−t1 per user): exact quartiles + count, the
    latency-SLO view of the funnel.  Per-user times come from the same
    three co-keyed aggs as w5; the final percentile sorts only one row
    per converting user (approx_percentile is the documented 100 TB
    swap, a_approx_percentile pins its parity)."""
    ev = load_events(spark, sf).select("user_id", "event_type", "ts_ns")
    t1 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts_ns").alias("t1")))
    t2 = (ev.filter(F.col("event_type") == "click").join(t1, "user_id")
          .filter(F.col("ts_ns") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts_ns").alias("t2")))
    t3 = (ev.filter(F.col("event_type") == "purchase").join(t2, "user_id")
          .filter(F.col("ts_ns") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts_ns").alias("t3")))
    per_user = (
        t1.join(t3, "user_id")
        .select(((F.col("t3") - F.col("t1")) / F.lit(1000000000.0)).alias("sec"))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile(F.col("sec"), F.lit(0.25)), 6).alias("p25_sec"),
        F.round(F.percentile(F.col("sec"), F.lit(0.50)), 6).alias("p50_sec"),
        F.round(F.percentile(F.col("sec"), F.lit(0.75)), 6).alias("p75_sec"),
    )


W13_CONVERSION_SQL = """
WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS ts_ns FROM events),
t1 AS (SELECT user_id, MIN(ts_ns) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(e.ts_ns) AS t2
       FROM ev e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts_ns > t1.t1 GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(e.ts_ns) AS t3
       FROM ev e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts_ns > t2.t2 GROUP BY e.user_id),
per_user AS (
  SELECT (t3.t3 - t1.t1) / 1000000000.0 AS sec FROM t1 JOIN t3 USING (user_id)
)
SELECT COUNT(*) AS n_converted,
       round(quantile_cont(sec, 0.25), 6) AS p25_sec,
       round(quantile_cont(sec, 0.50), 6) AS p50_sec,
       round(quantile_cont(sec, 0.75), 6) AS p75_sec
FROM per_user
"""


def ts_autocorrelation(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation (ACF) of the per-type daily event-count series at
    lags 1/2/3/7 — the seasonality/persistence diagnostic that decides
    a forecast model's order (complements ts_holt_forecast's fixed
    smoothing and ts_seasonal_decompose's hour-of-day profile).

    Determinism: Pearson terms accumulate as EXACT BIGINT moments (n,
    Σx, Σy, Σxy, Σx², Σy² of integer daily counts); the coefficient is
    ONE final double expression over those integers — (n·Σxy − ΣxΣy) /
    √((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²)) with the two variance factors cast
    to double before the product (their integer product could exceed
    2⁶³; each factor alone stays ≤ ~4e12 at sf10 — headroom documented,
    not assumed).  Zero-variance series yield NULL via an explicit
    integer-compared CASE on both engines.

    Scale shape: one combinable (type, day) groupBy is the only
    corpus-sized pass; the lag pairing is an equi-join of the
    DAY-HISTOGRAM frame against itself shifted by an exploded constant
    lag set (4 rows per histogram row), horizon-bounded like the CUSUM
    prefix windows.  Missing days pair with nothing — the ACF is over
    observed-day pairs, identically in both engines."""
    ev = load_events(spark, sf).select("event_type", "ts_sec")
    daily = ev.groupBy(
        "event_type", F.expr("ts_sec div 86400").alias("day_idx")
    ).agg(F.count(F.lit(1)).alias("x"))
    # two selects: materialize the exploded `lag` first, THEN shift —
    # `day_idx - lag` in the same select list as the explode resolved
    # only via Spark 3.4+ lateral column aliasing interacting with
    # generator extraction (ADVICE r9: fragile on older analyzers /
    # with LCA disabled); the split is the same physical plan
    lagged = daily.select(
        "event_type",
        F.explode(F.array(*[F.lit(v) for v in (1, 2, 3, 7)])).alias("lag"),
        "day_idx",
        F.col("x").alias("y"),
    ).select(
        "event_type",
        "lag",
        (F.col("day_idx") - F.col("lag")).alias("day_idx"),
        "y",
    )
    pairs = daily.join(lagged, ["event_type", "day_idx"])
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "event_type",
        "lag",
        F.col("n").alias("n_pairs"),
        F.when(
            (dx > 0) & (dy > 0),
            num.cast("double")
            / F.sqrt(dx.cast("double") * dy.cast("double")),
        ).alias("acf"),
    ).orderBy("event_type", "lag")


def ts_theilsen_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Theil–Sen robust trend per event type (Theil 1950; Sen 1968):
    the MEDIAN of all pairwise slopes (x_j − x_i)/(d_j − d_i) over the
    daily count series — the robust complement to ``ml_ols_regression``
    (a single outlier day moves OLS arbitrarily; Theil–Sen tolerates
    ~29% contamination), and the trend statistic production metric
    monitors alert on.

    Determinism: each slope is ONE double division of exact integers
    (int/int is correctly rounded identically in both engines); the
    median is exact linear interpolation over those doubles (the
    w13 ``percentile`` ↔ ``quantile_cont`` mapping), rounded 9dp once.

    Scale shape: the only corpus-sized pass is the combinable
    (type, day) groupBy; the pair join runs on the DAY HISTOGRAM —
    horizon-bounded (h² pairs per type, independent of corpus rows),
    the same envelope as the ACF/CUSUM family."""
    ev = load_events(spark, sf).select("event_type", "ts_sec")
    daily = ev.groupBy(
        "event_type", F.expr("ts_sec div 86400").alias("day_idx")
    ).agg(F.count(F.lit(1)).alias("x"))
    slopes = (
        daily.alias("a")
        .join(daily.alias("b"), "event_type")
        .where(F.col("b.day_idx") > F.col("a.day_idx"))
        .select(
            "event_type",
            (
                (F.col("b.x") - F.col("a.x")).cast("double")
                / (F.col("b.day_idx") - F.col("a.day_idx"))
            ).alias("slope"),
        )
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile(F.col("slope"), F.lit(0.5)), 9).alias(
                "trend_slope"
            ),
        )
        .orderBy("event_type")
    )


TS_THEILSEN_SQL = """
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day_idx,
         COUNT(*) AS x
  FROM events GROUP BY event_type, day_idx
),
slopes AS (
  SELECT a.event_type,
         CAST(b.x - a.x AS DOUBLE) / (b.day_idx - a.day_idx) AS slope
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day_idx > a.day_idx
)
SELECT event_type, COUNT(*) AS n_pairs,
       round(quantile_cont(slope, 0.5), 9) AS trend_slope
FROM slopes GROUP BY event_type ORDER BY event_type
"""


TS_ACF_SQL = """
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day_idx,
         COUNT(*) AS x
  FROM events GROUP BY event_type, day_idx
),
lags AS (SELECT unnest([1, 2, 3, 7]) AS lag),
agg AS (
  SELECT a.event_type, l.lag,
         COUNT(*) AS n,
         CAST(SUM(a.x) AS BIGINT) AS sx,
         CAST(SUM(b.x) AS BIGINT) AS sy,
         CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
         CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
         CAST(SUM(b.x * b.x) AS BIGINT) AS syy
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.event_type = a.event_type
              AND b.day_idx = a.day_idx + l.lag
  GROUP BY a.event_type, l.lag
)
SELECT event_type, lag, n AS n_pairs,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE))
       END AS acf
FROM agg
ORDER BY event_type, lag
"""


def ts_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM change-point detection per event_type (Page 1954, the
    classic mean-shift detector): S_d = Σ_{days≤d}(x_day − x̄) over the
    daily value series; the change point is the day of max |S| — where
    the cumulative deviation from the global mean peaks, i.e. where the
    series' level shifts.

    Determinism: the whole statistic stays in INTEGER arithmetic —
    daily values in floor-scaled micro-units, and instead of
    S_d = prefix_d − d·(total/n) (a division) both engines compare
    T_d = n·prefix_d − d·total, an exact BIGINT (n·S_d scaled by 10⁶).
    The argmax is then an exact-integer comparison (peak = MAX|T|,
    change point = earliest day attaining it) — no float ties anywhere;
    |T| stays under 2⁶³ while n_days·Σ|value|·10⁶ < 9.2e18 (≈10¹²
    value-units over a 2000-day horizon — headroom documented, not
    assumed).  S ships as T/(n·10⁶) at presentation only.

    Scale shape: one combinable (type, day) groupBy over the stream is
    the only corpus-sized pass; the prefix windows run per type over
    the DAY-histogram frame — bounded by the time horizon regardless of
    corpus size (the td_ccnet_buckets window class), never row-level.

    Ref: scale op beyond the reference — streaming-adjacent drift/shift
    detection over the events stream (complements ts_mad_anomalies'
    pointwise outliers with a level-shift detector)."""
    ev = load_events(spark, sf).select("event_type", "ts_sec", "value")
    daily = (
        ev.select(
            "event_type",
            F.expr("ts_sec div 86400").alias("day_idx"),
            F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_u"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("v_u").alias("xsum"))
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("xsum").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    pre = daily.select(
        "event_type",
        "day_idx",
        F.sum("xsum").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("prefix"),
        F.row_number().over(w).cast("long").alias("idx"),
    )
    cus = pre.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day_idx",
        F.abs(
            F.col("n_days") * F.col("prefix") - F.col("idx") * F.col("total")
        ).alias("abs_t"),
    )
    peak = cus.groupBy("event_type").agg(F.max("abs_t").alias("peak"))
    cp = (
        cus.join(F.broadcast(peak), "event_type")
        .filter(F.col("abs_t") == F.col("peak"))
        .groupBy("event_type")
        .agg(F.min("day_idx").alias("cp_day_idx"))
    )
    return (
        cp.join(F.broadcast(tot), "event_type")
        .join(F.broadcast(peak), "event_type")
        .select(
            "event_type",
            F.expr("date_add(DATE'1970-01-01', CAST(cp_day_idx AS INT))").alias(
                "changepoint_day"
            ),
            "n_days",
            F.round(
                F.col("peak").cast("double")
                / (F.col("n_days").cast("double") * F.lit(1000000.0)),
                9,
            ).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


TS_CUSUM_SQL = """
WITH ev AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 AS ts_sec, value FROM events
),
daily AS (
  SELECT event_type, ts_sec // 86400 AS day_idx,
         CAST(SUM(CAST(floor(value * 1000000.0e0) AS BIGINT)) AS BIGINT) AS xsum
  FROM ev GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(xsum) AS BIGINT) AS total, COUNT(*) AS n_days
  FROM daily GROUP BY 1
),
pre AS (
  SELECT event_type, day_idx,
         CAST(SUM(xsum) OVER (PARTITION BY event_type ORDER BY day_idx) AS BIGINT)
           AS prefix,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS BIGINT)
           AS idx
  FROM daily
),
cus AS (
  SELECT p.event_type, p.day_idx,
         abs(t.n_days * p.prefix - p.idx * t.total) AS abs_t
  FROM pre p JOIN tot t USING (event_type)
),
peak AS (SELECT event_type, MAX(abs_t) AS peak FROM cus GROUP BY 1),
cp AS (
  SELECT c.event_type, MIN(c.day_idx) AS cp_day_idx
  FROM cus c JOIN peak k ON c.event_type = k.event_type AND c.abs_t = k.peak
  GROUP BY 1
)
SELECT cp.event_type,
       DATE '1970-01-01' + CAST(cp.cp_day_idx AS INT) AS changepoint_day,
       t.n_days,
       round(CAST(k.peak AS DOUBLE) / (CAST(t.n_days AS DOUBLE) * 1000000.0e0), 9)
         AS cusum_peak
FROM cp
JOIN tot t USING (event_type)
JOIN peak k USING (event_type)
ORDER BY event_type
"""


_PSI_BINS = 10


def ml_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index per event_type between the first and
    second half of the stream's time range — the standard production
    ML-monitoring drift metric (banking scorecard lineage; the
    threshold folklore: <0.1 stable, >0.2 drifted): PSI =
    Σ_bins (p_b − q_b)·ln(p_b/q_b) over a shared binning of the value
    distribution, Laplace-smoothed so empty bins stay finite.

    Determinism: the time split is integer day arithmetic ((min+max+1)
    div 2 from a 1-row broadcast); bins are the calibration-table
    discipline (equal-width over the per-type [min,max], floor on
    identical IEEE doubles); each bin's contribution is rounded to 9 dp
    THEN summed as exact DECIMAL (the td_quality_classifier ln
    discipline — both engines agree on the rounded per-term doubles,
    and decimal addition is order-independent).

    Scale shape: zero windows — two linear passes (range aggregates,
    then one combinable (type, bin, half) count) with O(#types)-row
    broadcasts; the PSI fold is a 10-row-per-type aggregate.

    Ref: scale op beyond the reference — distribution-drift monitoring
    for the pipeline-observability family (complements
    ts_cusum_changepoint's level shifts with shape drift)."""
    ev = load_events(spark, sf).select(
        "event_type",
        F.expr("ts_sec div 86400").alias("day_idx"),
        "value",
    )
    drange = ev.agg(
        F.min("day_idx").alias("mn_d"), F.max("day_idx").alias("mx_d")
    )
    vrange = ev.groupBy("event_type").agg(
        F.min("value").alias("mn_v"), F.max("value").alias("mx_v")
    )
    binned = (
        ev.crossJoin(F.broadcast(drange))
        .join(F.broadcast(vrange), "event_type")
        .select(
            "event_type",
            (
                F.col("day_idx")
                >= F.expr("(mn_d + mx_d + 1) div 2")
            ).alias("is_b"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn_v"))
                    / (F.col("mx_v") - F.col("mn_v"))
                    * F.lit(_PSI_BINS)
                ),
                F.lit(_PSI_BINS - 1).cast("long"),
            ).alias("b"),
        )
    )
    counts = binned.groupBy("event_type", "b").agg(
        F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("nb"),
    )
    tots = counts.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    p = (F.col("na") + F.lit(1.0)) / (F.col("ta") + F.lit(float(_PSI_BINS)))
    q = (F.col("nb") + F.lit(1.0)) / (F.col("tb") + F.lit(float(_PSI_BINS)))
    contrib = F.round((p - q) * F.log(p / q), 9).cast("decimal(20,9)")
    return (
        counts.join(F.broadcast(tots), "event_type")
        .select("event_type", contrib.alias("c"))
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("string").cast("double").alias("psi"),
        )
        .select(
            "event_type",
            "psi",
            (F.col("psi") > 0.2).alias("drifted"),
        )
        .orderBy("event_type")
    )


PSI_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day_idx, value
  FROM events
),
drange AS (SELECT MIN(day_idx) AS mn_d, MAX(day_idx) AS mx_d FROM ev),
vrange AS (
  SELECT event_type, MIN(value) AS mn_v, MAX(value) AS mx_v
  FROM ev GROUP BY 1
),
binned AS (
  SELECT e.event_type,
         e.day_idx >= (d.mn_d + d.mx_d + 1) // 2 AS is_b,
         LEAST(CAST(floor((e.value - v.mn_v) / (v.mx_v - v.mn_v)
                          * {_PSI_BINS}) AS BIGINT), {_PSI_BINS - 1}) AS b
  FROM ev e CROSS JOIN drange d JOIN vrange v USING (event_type)
),
counts AS (
  SELECT event_type, b,
         CAST(SUM(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM binned GROUP BY 1, 2
),
tots AS (
  SELECT event_type, CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM counts GROUP BY 1
),
contribs AS (
  SELECT c.event_type,
         CAST(round(((c.na + 1.0e0) / (t.ta + {float(_PSI_BINS)!r}e0)
                     - (c.nb + 1.0e0) / (t.tb + {float(_PSI_BINS)!r}e0))
                    * ln(((c.na + 1.0e0) / (t.ta + {float(_PSI_BINS)!r}e0))
                         / ((c.nb + 1.0e0) / (t.tb + {float(_PSI_BINS)!r}e0))), 9)
              AS DECIMAL(20,9)) AS contrib
  FROM counts c JOIN tots t USING (event_type)
),
psis AS (
  SELECT event_type,
         CAST(CAST(SUM(contrib) AS VARCHAR) AS DOUBLE) AS psi
  FROM contribs GROUP BY 1
)
SELECT event_type, psi, psi > 0.2 AS drifted
FROM psis ORDER BY event_type
"""


def ml_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift test per event type
    between the first/second time halves — PSI's nonparametric sibling
    (no binning choice, sensitive anywhere on the CDF): D =
    max_v |F̂₁(v) − F̂₂(v)| over the pooled distinct values.

    Determinism: the ENTIRE statistic is integer arithmetic —
    D·(n₁·n₂) = max |n₂·cum₁(v) − n₁·cum₂(v)| over exact BIGINT
    cumulative counts, the argmax location tie-broken to the smallest
    value; only the final D = ks_scaled/(n₁·n₂) is ONE double division
    (and n·cum products stay ≤ ~10¹⁴ at sf10, far under 2⁶³).

    Scale shape: the value histogram is the one corpus-sized combinable
    groupBy; the CDF is a GROUPED two-phase distributed prefix sum —
    range-partition by (type, value), per-(pid, type) window, O(P·T)
    per-partition totals collected once and broadcast back as per-type
    offsets (the ml_auc_roc discipline generalized to grouped series;
    no global-order window ever sees the histogram, and no per-type
    single-partition sort can wedge on a high-cardinality value
    domain).

    Ref: scale op beyond the reference — nonparametric distribution
    drift for the pipeline-observability family (PSI = binned shape,
    CUSUM = level, KS = full-CDF)."""
    ev = load_events(spark, sf).select(
        "event_type", F.expr("ts_sec div 86400").alias("day_idx"), "value"
    )
    return ks_over_events(ev)


def ks_over_events(ev: DataFrame) -> DataFrame:
    """Core of :func:`ml_ks_drift` over an (event_type, day_idx, value)
    frame — split out so constructed-input unit tests can pin the exact
    statistic and the argmax tie-break (tests/test_queries_r10.py)."""
    from tlcn_oer_lakehouse_spark.queries.base import prefix_sum_partitions

    spark = ev.sparkSession
    drange = ev.agg(F.min("day_idx").alias("mn_d"), F.max("day_idx").alias("mx_d"))
    hist = (
        ev.crossJoin(F.broadcast(drange))
        .select(
            "event_type",
            # Sign-normalize: the group key ships as output (ks_at_value)
            # and Spark normalizes -0.0 in grouping keys (SPARK-26021)
            # while DuckDB emits the stored -0.0 — same divergence class
            # as q10's c_acctbal (ADVICE r10).  +0.0 on BOTH engines.
            (F.col("value") + F.lit(0.0)).alias("value"),
            (F.col("day_idx") >= F.expr("(mn_d + mx_d + 1) div 2")).alias("is_b"),
        )
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("nb"),
        )
    )
    parts = hist.repartitionByRange(
        prefix_sum_partitions(spark), "event_type", "value"
    ).withColumn("pid", F.spark_partition_id()).persist()
    totals = parts.groupBy("pid", "event_type").agg(
        F.sum("na").alias("pa"), F.sum("nb").alias("pb")
    ).collect()
    run: dict[str, tuple[int, int]] = {}
    offset_rows = []
    for row in sorted(totals, key=lambda r: (r.event_type, r.pid)):
        oa, ob = run.get(row.event_type, (0, 0))
        offset_rows.append((row.pid, row.event_type, oa, ob))
        run[row.event_type] = (oa + row.pa, ob + row.pb)
    offsets = spark.createDataFrame(
        offset_rows, "pid INT, event_type STRING, off_a LONG, off_b LONG"
    )
    tot = spark.createDataFrame(
        [(t, a, b) for t, (a, b) in sorted(run.items())],
        "event_type STRING, ta LONG, tb LONG",
    )
    w = Window.partitionBy("pid", "event_type").orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf = (
        parts.withColumn("la", F.sum("na").over(w))
        .withColumn("lb", F.sum("nb").over(w))
        .join(F.broadcast(offsets), ["pid", "event_type"])
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "value",
            "ta",
            "tb",
            F.abs(
                F.col("tb") * (F.col("la") + F.col("off_a"))
                - F.col("ta") * (F.col("lb") + F.col("off_b"))
            ).alias("diff"),
        )
    )
    peak = cdf.groupBy("event_type").agg(F.max("diff").alias("ks_scaled"))
    return (
        cdf.join(F.broadcast(peak), "event_type")
        .filter(F.col("diff") == F.col("ks_scaled"))
        .groupBy("event_type", "ta", "tb", "ks_scaled")
        .agg(F.min("value").alias("ks_at_value"))
        .select(
            "event_type",
            F.col("ta").alias("n_a"),
            F.col("tb").alias("n_b"),
            "ks_scaled",
            (
                F.col("ks_scaled").cast("double")
                / (F.col("ta") * F.col("tb")).cast("double")
            ).alias("ks_d"),
            "ks_at_value",
        )
        .orderBy("event_type")
    )


KS_SQL = """
WITH ev AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day_idx,
         value + 0.0 AS value
  FROM events
),
drange AS (SELECT MIN(day_idx) AS mn_d, MAX(day_idx) AS mx_d FROM ev),
hist AS (
  SELECT event_type, value,
         CAST(SUM(CASE WHEN day_idx >= (mn_d + mx_d + 1) // 2 THEN 0 ELSE 1 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN day_idx >= (mn_d + mx_d + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM ev CROSS JOIN drange GROUP BY event_type, value
),
cdf AS (
  SELECT event_type, value, na, nb,
         CAST(SUM(na) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum_a,
         CAST(SUM(nb) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum_b
  FROM hist
),
tots AS (
  SELECT event_type, CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM hist GROUP BY 1
),
diffs AS (
  SELECT c.event_type, c.value, t.ta, t.tb,
         CAST(ABS(t.tb * c.cum_a - t.ta * c.cum_b) AS BIGINT) AS diff
  FROM cdf c JOIN tots t USING (event_type)
),
peaks AS (SELECT event_type, CAST(MAX(diff) AS BIGINT) AS ks_scaled FROM diffs GROUP BY 1)
SELECT d.event_type,
       d.ta AS n_a,
       d.tb AS n_b,
       p.ks_scaled,
       CAST(p.ks_scaled AS DOUBLE) / CAST(d.ta * d.tb AS DOUBLE) AS ks_d,
       MIN(d.value) AS ks_at_value
FROM diffs d JOIN peaks p ON d.event_type = p.event_type AND d.diff = p.ks_scaled
GROUP BY d.event_type, d.ta, d.tb, p.ks_scaled
ORDER BY d.event_type
"""


SPECS = [
    QuerySpec("ml_ks_drift", ml_ks_drift, KS_SQL,
              ref="scale op: exact two-sample Kolmogorov-Smirnov drift "
                  "per event type — pure-BIGINT scaled statistic over a "
                  "GROUPED two-phase distributed prefix sum (the "
                  "ml_auc_roc pattern generalized per-type); one final "
                  "double division; argmax tie-broken to min value",
              doc="exact KS statistic + location between first/second "
                  "time halves per event type",
              tags=("timeseries", "eval")),
    QuerySpec("ml_psi_drift", ml_psi_drift, PSI_SQL,
              ref="scale op: Population Stability Index drift monitor "
                  "per event type — two linear combinable passes, "
                  "O(#types) broadcasts, zero windows; the round-9dp-"
                  "then-decimal-sum ln discipline",
              doc="PSI between first/second time halves of the value "
                  "distribution + the 0.2 drift flag",
              tags=("timeseries", "eval")),
    QuerySpec("ts_autocorrelation", ts_autocorrelation, TS_ACF_SQL,
              ref="scale op: ACF at lags 1/2/3/7 over the per-type day "
                  "histogram — exact BIGINT Pearson moments, one final "
                  "double expression; horizon-bounded lag equi-join",
              doc="daily event-count autocorrelation per event type",
              tags=("timeseries",)),
    QuerySpec("ts_theilsen_trend", ts_theilsen_trend, TS_THEILSEN_SQL,
              ref="scale op: Theil–Sen median-of-slopes robust trend "
                  "per event type — day-histogram pair join "
                  "(horizon-bounded, h² pairs independent of corpus "
                  "rows); robust complement to ml_ols_regression",
              doc="robust daily-count trend slope per event type",
              tags=("timeseries",)),
    QuerySpec("ts_cusum_changepoint", ts_cusum_changepoint, TS_CUSUM_SQL,
              ref="scale op: CUSUM mean-shift change-point per event "
                  "type — exact-integer n·S statistic, day-histogram "
                  "bounded windows, combinable daily rollup",
              doc="per-type CUSUM peak day + scaled peak deviation "
                  "over the daily value series",
              tags=("timeseries",)),
    QuerySpec("w14_association_rules", w14_association_rules, W14_RULES_SQL,
              ref="scale op: Apriori rule mining (Agrawal & Srikant "
                  "VLDB'94) over order baskets — vocabulary-bounded "
                  "pair fan-out, exact-integer support/confidence "
                  "thresholds, unrounded ratio outputs",
              doc="brand association rules with support/confidence/lift",
              tags=("mining",)),
    QuerySpec("j_interval_overlap", j_interval_overlap, J_OVERLAP_SQL,
              ref="scale op: interval×interval overlap join via bucket "
                  "tiling with dedup-free first-shared-bucket emission "
                  "(no dropDuplicates shuffle); oracle is the naive "
                  "overlap theta-join over gaps-and-islands sessions",
              doc="user sessions × campaign windows with overlap seconds",
              tags=("join",)),
    QuerySpec("j_spatial_grid", j_spatial_grid, J_SPATIAL_SQL,
              ref="scale op: grid-bucketed spatial radius join "
                  "(Sedona/PostGIS tiling strategy) — 3×3 neighbor-cell "
                  "equi-join, broadcast small side, exact-integer dist² "
                  "residual; oracle is the naive theta-join",
              doc="customers within the adaptive radius of each supplier site",
              tags=("join", "spatial", "bench")),
    QuerySpec("j_range_interval", range_interval_join, RANGE_INTERVAL_SQL,
              ref="scale op: bucketed range join (no native Spark strategy; "
                  "Databricks range-join bin analog)",
              doc="events-in-interval join via bucket equi-join + residual filter",
              tags=("join",)),
    QuerySpec("st_tumbling_window", tumbling_event_counts, TUMBLING_SQL,
              ref="new capability (SURVEY §2.9: reference has none); streaming twin in streaming/ingest.py",
              doc="1-day tumbling windows per event_type", tags=("streaming", "bench")),
    QuerySpec("st_sliding_window", sliding_event_counts, SLIDING_SQL,
              ref="new capability (SURVEY §2.9)",
              doc="2h/1h sliding windows", tags=("streaming",)),
    QuerySpec("st_session_window", session_windows, SESSION_SQL,
              ref="new capability (SURVEY §2.9); gaps-and-islands oracle",
              doc="6h-gap session windows per user", tags=("streaming",)),
    QuerySpec("rec_item_item_cf", rec_item_item_cf, REC_CF_SQL,
              ref="scale op: item-item CF (Linden et al. 2003) — bounded "
                  "co-pair explode, no user×item matrix",
              doc="top-5 similar items by co-purchase cosine",
              tags=("mining", "vector")),
    QuerySpec("j_salted_hot_key", j_salted_hot_key, J_SALTED_SQL,
              ref="scale op: explicit hot-key salting "
                  "(operators/skew.py) proven result-identical to the "
                  "plain equi-join by the oracle",
              doc="8-way salted join over a 5-key power-law fact stream",
              tags=("join",)),
    QuerySpec("ts_mad_anomalies", ts_mad_anomalies, TS_MAD_SQL,
              ref="beyond reference: median/MAD robust outlier gate "
                  "(per-type exact medians + broadcast stats joins)",
              doc="1.4826-scaled robust z-score anomaly detection",
              tags=("window",)),
    QuerySpec("w11_rfm_segmentation", w11_rfm_segmentation, W11_RFM_SQL,
              ref="beyond reference: RFM quintile segmentation with "
                  "deterministic tie-broken ntiles",
              doc="recency/frequency/monetary quintiles + 3-digit segment",
              tags=("window",)),
    QuerySpec("ts_holt_forecast", ts_holt_forecast, _holt_oracle(),
              ref="scale op: Holt double-exponential-smoothing forecast "
                  "(dyadic constants → exact doubles; 28-step trajectory "
                  "fully oracle-replayed)",
              doc="per-type daily level/trend + 1/3/7-day forecasts",
              tags=("window", "timeseries")),
    QuerySpec("ts_seasonal_decompose", ts_seasonal_decompose, TS_SEASONAL_SQL,
              ref="scale op: hour-of-day seasonal decomposition (classical "
                  "additive model) — two partial-agg groupBys + one "
                  "broadcast profile, map-side residuals",
              doc="per-type 24h seasonal profile with residual dispersion",
              tags=("window", "timeseries")),
    QuerySpec("w12_attribution_last_touch", w12_attribution_last_touch,
              W12_ATTRIBUTION_SQL,
              ref="scale op: last-touch attribution as ONE user-keyed "
                  "ignore-nulls window over touch∪purchase — no per-user "
                  "touches×purchases fan-out",
              doc="purchase credit to latest preceding touch + gap stats",
              tags=("window",)),
    QuerySpec("w13_conversion_time_quantiles", w13_conversion_time_quantiles,
              W13_CONVERSION_SQL,
              ref="scale op: funnel latency distribution (exact quartiles "
                  "of w5's t3−t1; approx_percentile is the 100 TB swap)",
              doc="view→purchase conversion-time quartiles",
              tags=("window",)),
    QuerySpec("w9_max_concurrency", w9_max_concurrency, W9_CONCURRENCY_SQL,
              ref="scale op: sweep-line peak concurrency — linear in "
                  "boundaries vs the O(n·overlap) self-join alternative",
              doc="peak concurrent 30-min sessions per event type",
              tags=("window", "timeseries")),
    QuerySpec("w10_cooccurrence_pairs", w10_cooccurrence_pairs, W10_COOCCUR_SQL,
              ref="scale op: A-Priori pass-1 co-occurrence with lift; "
                  "per-user pair fan-out bounded by the type vocabulary",
              doc="event-type pair support + lift over per-user baskets",
              tags=("window", "mining")),
    QuerySpec("w8_activity_streaks", w8_activity_streaks, W8_STREAKS_SQL,
              ref="scale op: gaps-and-islands streaks (one user-keyed window, "
                  "no self-join)",
              doc="longest consecutive-day streak / streak count per user",
              tags=("window", "timeseries")),
    QuerySpec("w7_event_transitions", w7_event_transitions, W7_TRANSITIONS_SQL,
              ref="scale op: first-order event transition matrix (sequence "
                  "mining primitive; one user-keyed window)",
              doc="consecutive event-type pairs with transition probability",
              tags=("window", "timeseries")),
    QuerySpec("w6_cohort_retention", w6_cohort_retention, W6_COHORT_SQL,
              ref="scale op: cohort retention triangle (two co-keyed aggs, "
                  "integer week math)",
              doc="users active per (cohort_week, weeks_since_first) cell",
              tags=("window", "timeseries")),
    QuerySpec("w5_funnel", w5_funnel, W5_FUNNEL_SQL,
              ref="scale op: ordered conversion funnel (co-keyed aggregations, "
                  "one reused user partitioning, no global event-order window)",
              doc="view→click→purchase stage counts + mean conversion time",
              tags=("window", "timeseries")),
    QuerySpec("ts_subsequence_search", ts_subsequence_search, _ts_subseq_sql(),
              ref="scale op: time-series subsequence similarity (EDBT'19 "
                  "streaming-similarity shape) — lead() columns, no lists",
              doc="z-normalized spike-template match, top-3 windows per user",
              tags=("window", "timeseries")),
]
