"""Lakehouse pipeline queries: silver normalization (U1), MERGE
upsert/delete semantics (K1/K2), and the gold star schema
(dims / facts / coverage — SURVEY §1.4) re-expressed over the synthetic
star schema.

The silver/gold capability mapping:
- ``silver_normalize``      ≙ U1 record normalizer (transformer.py:479-567):
  JSON prop extraction, deterministic uid (sha2), content fingerprint,
  derived columns, null-safe coalescing — all pure column expressions
  (the reference did this row-at-a-time in RDD mapPartitions).
- ``k1_merge_upsert``       ≙ K1 MERGE INTO (transformer.py:2427-2458):
  the merged-table result of upserting a modified batch.
- ``k2_merge_delete``       ≙ K2 MERGE DELETE (transformer.py:2460-2484):
  survivors after stale-key cleanup, summarized per nation.
  Both classify with ``operators/incremental.py:classify_changes``, the
  keyed pass ``ParquetMergeTable.merge`` commits from.
- ``gold_fact_coverage``    ≙ fact_program_coverage (gold_analytics.py:494-607):
  the headline business aggregate (coverage % per program → per nation).
- ``gold_dim_customer``     ≙ dim_oer_resources (gold_analytics.py:418-492):
  dim enriched with grouped countDistinct joins + surrogate keys + SCD cols.
- ``gold_bridge_weighted``  ≙ bridge_oer_subjects (gold_analytics.py:725-774):
  M:N bridge with similarity weight and referential-integrity inner joins.

Scale notes: coverage and dim builds aggregate BEFORE joining (small
grouped sides, broadcastable); the bridge aggregates lineitem on its
natural join key so the shuffle is one hash-partition pass over the fact
table; surrogate keys are computed, not sequenced — no driver coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.operators.incremental import (
    classify_changes,
    next_snapshot,
)
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load, load_events

# ---------------------------------------------------------------------------
# U1 silver normalizer over events
# ---------------------------------------------------------------------------


def silver_normalize(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf)
    uid = F.sha2(F.concat_ws("||", F.lit("ev"), F.col("event_id").cast("string")), 256)
    fp = F.md5(
        F.concat_ws(
            "|",
            F.coalesce(F.col("event_type"), F.lit("")),
            F.col("value").cast("string"),
            F.col("user_id").cast("string"),
        )
    )
    return ev.select(
        F.col("event_id"),
        uid.alias("event_uid"),
        F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type_norm"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
        F.to_date(F.col("ts")).alias("event_date"),
        F.when(F.col("value") >= 100, "high")
        .when(F.col("value") >= 10, "mid")
        .otherwise("low")
        .alias("value_band"),
        fp.alias("record_fingerprint"),
    )


SILVER_NORMALIZE_SQL = """
SELECT event_id,
       sha256(concat_ws('||', 'ev', CAST(event_id AS VARCHAR))) AS event_uid,
       coalesce(event_type, 'unknown') AS event_type_norm,
       CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
       CAST(make_timestamp((epoch_ns(ts) // 1000000000) * 1000000) AS DATE) AS event_date,
       CASE WHEN value >= 100 THEN 'high' WHEN value >= 10 THEN 'mid' ELSE 'low' END AS value_band,
       md5(concat_ws('|', coalesce(event_type, ''), CAST(value AS VARCHAR), CAST(user_id AS VARCHAR))) AS record_fingerprint
FROM events
"""


# ---------------------------------------------------------------------------
# K1 / K2 merge semantics
# ---------------------------------------------------------------------------


def _orders_versions(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """existing = orders with key%3!=0; incoming batch = keys%2==0 where
    every 4th key got a price bump (changed) and the rest are identical
    re-sends (must be skipped by change detection)."""
    orders = load(spark, sf, "orders")
    fp = F.md5(F.concat_ws("|", F.col("o_orderstatus"), F.col("o_totalprice").cast("string")))
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    existing = base.filter(F.col("o_orderkey") % 3 != 0)
    incoming = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    add_fp = lambda df: df.withColumn("record_fingerprint", fp)  # noqa: E731
    return add_fp(existing), add_fp(incoming)


def k1_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    existing, incoming = _orders_versions(spark, sf)
    merged = next_snapshot(classify_changes(existing, incoming, "o_orderkey"))
    return merged.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


K1_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
existing AS (SELECT * FROM base WHERE o_orderkey % 3 != 0),
incoming AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % 2 = 0
)
SELECT e.o_orderkey, e.o_custkey, e.o_orderstatus, e.o_totalprice
FROM existing e ANTI JOIN incoming i ON e.o_orderkey = i.o_orderkey
UNION ALL
SELECT * FROM incoming
"""


def k2_merge_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Delete customers no longer present upstream (no orders), then
    summarize survivors per nation — exercising J4 + K2 + post-merge agg."""
    cust = load(spark, sf, "customer")
    current = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    survivors = next_snapshot(
        classify_changes(cust, None, "c_custkey", current_keys=current)
    )
    return (
        survivors.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("c_nationkey")
    )


K2_SQL = """
WITH survivors AS (
  SELECT * FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
)
SELECT c_nationkey, COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_acctbal
FROM survivors
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# gold star schema
# ---------------------------------------------------------------------------


def gold_fact_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Coverage fact (gold_analytics.py:537-567): per nation — how many
    customers exist, how many have ≥1 order, coverage %, totals.
    Aggregate orders per customer first (one shuffle on o_custkey), then
    join the small per-customer counts and aggregate per nation."""
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        load(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )
    j = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
    fact = (
        j.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("total_customers"),
            F.sum(F.when(F.col("order_cnt") > 0, 1).otherwise(0)).alias(
                "customers_with_orders"
            ),
            F.sum(F.coalesce(F.col("order_cnt"), F.lit(0))).alias("total_orders"),
        )
        .select(
            "c_nationkey",
            "total_customers",
            "customers_with_orders",
            F.round(
                F.col("customers_with_orders") * 100.0 / F.col("total_customers"), 9
            ).alias("coverage_pct"),
            "total_orders",
            F.round(F.col("total_orders") / F.col("total_customers"), 9).alias(
                "avg_orders_per_customer"
            ),
        )
    )
    return fact.orderBy("c_nationkey")


GOLD_COVERAGE_SQL = """
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS order_cnt FROM orders GROUP BY o_custkey
),
j AS (
  SELECT c.c_nationkey, p.order_cnt
  FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
)
SELECT c_nationkey,
       COUNT(*) AS total_customers,
       CAST(SUM(CASE WHEN order_cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS customers_with_orders,
       round(SUM(CASE WHEN order_cnt > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 9) AS coverage_pct,
       CAST(SUM(coalesce(order_cnt, 0)) AS BIGINT) AS total_orders,
       round(SUM(coalesce(order_cnt, 0)) * 1.0 / COUNT(*), 9) AS avg_orders_per_customer
FROM j
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def gold_dim_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Enriched dimension (gold_analytics.py:418-492): descriptive
    attributes + per-entity counts from two grouped joins + md5-prefix
    surrogate key + degenerate SCD-2 columns (always-current)."""
    cust = load(spark, sf, "customer").filter(F.col("c_custkey") <= 1000)
    orders = load(spark, sf, "orders")
    items = load(spark, sf, "lineitem")
    order_counts = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderkey").alias("order_count")
    )
    item_counts = (
        items.join(
            orders.select("o_orderkey", "o_custkey"),
            items.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("lineitem_count"))
    )
    natural = F.concat_ws("||", F.col("c_custkey").cast("string"), F.col("c_name"))
    return (
        cust.join(order_counts, cust.c_custkey == order_counts.o_custkey, "left")
        .drop("o_custkey")
        .join(item_counts, cust.c_custkey == item_counts.o_custkey, "left")
        .drop("o_custkey")
        .select(
            F.conv(F.substring(F.md5(natural), 1, 8), 16, 10)
            .cast("long")
            .alias("customer_key"),
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce(F.col("order_count"), F.lit(0)).alias("order_count"),
            F.coalesce(F.col("lineitem_count"), F.lit(0)).alias("lineitem_count"),
            F.lit("2020-01-01").cast("date").alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
        .orderBy("c_custkey")
    )


GOLD_DIM_SQL = """
WITH order_counts AS (
  SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS order_count FROM orders GROUP BY o_custkey
),
item_counts AS (
  SELECT o.o_custkey, COUNT(*) AS lineitem_count
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey
)
SELECT CAST(('0x' || substring(md5(concat_ws('||', CAST(c_custkey AS VARCHAR), c_name)), 1, 8)) AS BIGINT) AS customer_key,
       c_custkey, c_name, c_mktsegment,
       coalesce(oc.order_count, 0) AS order_count,
       coalesce(ic.lineitem_count, 0) AS lineitem_count,
       DATE '2020-01-01' AS effective_from,
       CAST(NULL AS DATE) AS effective_to,
       TRUE AS is_current
FROM customer c
LEFT JOIN order_counts oc ON c.c_custkey = oc.o_custkey
LEFT JOIN item_counts ic ON c.c_custkey = ic.o_custkey
WHERE c_custkey <= 1000
ORDER BY c_custkey
"""


def gold_bridge_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """M:N bridge (gold_analytics.py:725-774): customer↔part with an
    exact quantity weight, referential integrity enforced by inner joins
    against both dimensions.  lineitem aggregates on its natural key
    before the dimension joins — one fact-table shuffle, small sides after."""
    items = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf, "customer").select("c_custkey")
    part = load(spark, sf, "part").select("p_partkey")
    pairs = (
        items.join(orders, items.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty_weight"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return (
        pairs.join(cust, pairs.o_custkey == cust.c_custkey)
        .join(part, pairs.l_partkey == part.p_partkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
            "qty_weight",
            "n_lines",
        )
    )


GOLD_BRIDGE_SQL = """
WITH pairs AS (
  SELECT o.o_custkey, l.l_partkey,
         CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS qty_weight,
         COUNT(*) AS n_lines
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_partkey
)
SELECT p.o_custkey AS custkey, p.l_partkey AS partkey, p.qty_weight, p.n_lines
FROM pairs p
JOIN customer c ON p.o_custkey = c.c_custkey
JOIN part pt ON p.l_partkey = pt.p_partkey
"""


# ---------------------------------------------------------------------------
# declarative expectations (DLT `EXPECT ... ON VIOLATION` analog)
# ---------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Per-rule data-quality metrics from `operators/expectations.py` over
    a deterministically corrupted orders batch (the synthetic tables are
    clean, so violations are injected the same way in BOTH engines, like
    ``pii_scrub`` does): negative totals (quarantine), null priorities
    (drop), null dates (warn).  Key 9797 = 97·101 violates a drop AND a
    quarantine rule at sf≥0.01, exercising the excluded-once union math.
    """
    from pyspark.sql import functions as F

    from tlcn_oer_lakehouse_spark.operators.expectations import Rule, expect

    k = F.col("o_orderkey")
    corrupted = load(spark, sf, "orders").select(
        "o_orderkey",
        F.when(k % 97 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(k % 101 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
        F.when(k % 103 == 0, F.lit(None).cast(dict(load(spark, sf, "orders").dtypes)["o_orderdate"]))
        .otherwise(F.col("o_orderdate")).alias("o_orderdate"),
    )
    result = expect(corrupted, [
        Rule("price_positive", F.col("o_totalprice") > 0, "quarantine"),
        Rule("priority_known", F.col("o_orderpriority").isin(*_PRIORITIES), "drop"),
        Rule("date_present", F.col("o_orderdate").isNotNull(), "warn"),
    ])
    return result.metrics


DQ_EXPECTATIONS_SQL = f"""
WITH corrupted AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 101 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority,
         CASE WHEN o_orderkey % 103 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate
  FROM orders
), f AS (
  SELECT CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END AS v_price,
         CASE WHEN NOT COALESCE(o_orderpriority IN {_PRIORITIES!r}, FALSE) THEN 1 ELSE 0 END AS v_prio,
         CASE WHEN NOT COALESCE(o_orderdate IS NOT NULL, FALSE) THEN 1 ELSE 0 END AS v_date
  FROM corrupted
), a AS (
  SELECT COUNT(*) AS rows_in,
         SUM(v_price) AS n_price, SUM(v_prio) AS n_prio, SUM(v_date) AS n_date,
         SUM(CASE WHEN v_price = 1 OR v_prio = 1 THEN 1 ELSE 0 END) AS excluded
  FROM f
)
SELECT 'price_positive' AS rule, 'quarantine' AS policy, CAST(n_price AS BIGINT) AS n FROM a
UNION ALL SELECT 'priority_known', 'drop', CAST(n_prio AS BIGINT) FROM a
UNION ALL SELECT 'date_present', 'warn', CAST(n_date AS BIGINT) FROM a
UNION ALL SELECT '_rows_in', 'summary', CAST(rows_in AS BIGINT) FROM a
UNION ALL SELECT '_rows_clean', 'summary', CAST(rows_in - excluded AS BIGINT) FROM a
UNION ALL SELECT '_rows_quarantined', 'summary', CAST(n_price AS BIGINT) FROM a
"""


# ---------------------------------------------------------------------------
# incremental view maintenance from a change feed
# ---------------------------------------------------------------------------


def ivm_incremental_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental maintenance of a grouped aggregate from a CDF-shaped
    change batch — the registry-visible twin of the pytest-pinned
    ``ParquetMergeTable.read_changes`` fold (test_cdf.py: IVM ≡ full
    recompute).  A base orders table takes one commit of mixed changes
    (inserts: keys ≡0 mod 6; updates: even keys with a real price change,
    i.e. ≡0 mod 4; deletes: keys ≡0 mod 11 among the odd keys), and the
    per-status (count, sum) view is updated by folding ONLY the signed
    change rows — O(changes), never a base rescan.

    The oracle recomputes the post-commit aggregate DIRECTLY from the
    merged state: a hash match proves the incremental fold is exactly
    equivalent to full recomputation, which is the IVM correctness
    property itself."""
    base_all = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    k = F.col("o_orderkey")
    base = base_all.filter(k % 3 != 0)
    # change feed for one commit, derived deterministically:
    inserts = base_all.filter((k % 6 == 0)).select(
        "o_orderstatus", "price", F.lit("insert").alias("_change_type")
    )
    updates_post = base.filter((k % 2 == 0) & (k % 4 == 0)).select(
        "o_orderstatus", (F.col("price") + F.lit(10.00).cast("decimal(18,2)")).alias("price"),
        F.lit("update_postimage").alias("_change_type"),
    )
    updates_pre = base.filter((k % 2 == 0) & (k % 4 == 0)).select(
        "o_orderstatus", "price", F.lit("update_preimage").alias("_change_type")
    )
    deletes = base.filter((k % 11 == 0) & (k % 2 != 0)).select(
        "o_orderstatus", "price", F.lit("delete").alias("_change_type")
    )
    changes = inserts.unionByName(updates_post).unionByName(updates_pre).unionByName(deletes)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    old_view = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").alias("sum_price"),
    )
    delta = changes.groupBy("o_orderstatus").agg(
        F.sum(sign).alias("d_n"),
        F.sum(F.col("price") * sign.cast("decimal(18,2)")).alias("d_sum"),
    )
    return (
        old_view.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce(F.col("n_orders"), F.lit(0))
             + F.coalesce(F.col("d_n"), F.lit(0))).alias("n_orders"),
            (F.coalesce(F.col("sum_price"), F.lit(0).cast("decimal(18,2)"))
             + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(18,2)")))
            .cast("double").alias("sum_totalprice"),
        )
    )


IVM_SQL = """
WITH base_all AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
base AS (SELECT * FROM base_all WHERE o_orderkey % 3 != 0),
merged AS (
  -- survivors: not deleted, not the pre-update image
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 4 = 0
              THEN price + CAST(10.00 AS DECIMAL(18,2)) ELSE price END AS price
  FROM base
  WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 2 != 0)
  UNION ALL
  SELECT o_orderstatus, price FROM base_all WHERE o_orderkey % 6 = 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS sum_totalprice
FROM merged
GROUP BY o_orderstatus
"""


def ivm_incremental_join(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta rule for
    equi-joins, Blakeley et al. SIGMOD'86; DBSP/differential-dataflow
    bilinear form): V = orders ⋈ customers maintained under insert
    batches on BOTH sides as

        ΔV = ΔO ⋈ C_old  ∪  O_old ⋈ ΔC  ∪  ΔO ⋈ ΔC

    — never re-joining the old×old bulk.  Splits are deterministic
    (customers ≡0 mod 5 and orders ≡0 mod 7 arrive in the batch); the
    published view is the per-(nation, status) count + exact decimal
    revenue, folded from the four partial aggregates.

    The oracle recomputes the view DIRECTLY from the merged state (one
    big join over everything): a hash match proves the three-term
    delta decomposition is exactly equivalent to full recomputation.
    Scale shape: both delta terms broadcast the O(batch) side, so the
    only full-table pass is O_old ⋈ ΔC's fact scan (and in deployment
    V_old's aggregate is the STORED gold table — an O(groups) read,
    the medallion_incremental convention)."""
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c_old = cust.filter(F.col("c_custkey") % 5 != 0)
    c_new = cust.filter(F.col("c_custkey") % 5 == 0)
    o_old = orders.filter(F.col("o_orderkey") % 7 != 0)
    o_new = orders.filter(F.col("o_orderkey") % 7 == 0)

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy("c_nationkey", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("price").alias("s")
        )

    on = F.col("o_custkey") == F.col("c_custkey")
    v_old = _agg(o_old.join(c_old, on))
    d_oc = _agg(F.broadcast(o_new).join(c_old, on))
    d_co = _agg(o_old.join(F.broadcast(c_new), on))
    d_nn = _agg(F.broadcast(o_new).join(c_new, on))
    return (
        v_old.unionByName(d_oc).unionByName(d_co).unionByName(d_nn)
        .groupBy("c_nationkey", "o_orderstatus")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("string").cast("double").alias("revenue"),
        )
        .orderBy("c_nationkey", "o_orderstatus")
    )


IVM_JOIN_SQL = """
SELECT c_nationkey, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
         AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey, o_orderstatus
ORDER BY c_nationkey, o_orderstatus
"""


# ---------------------------------------------------------------------------
# Z-order data layout
# ---------------------------------------------------------------------------

_Z_BITS = 10          # bits per dimension (1024 cells each)
_Z_BUCKET_SHIFT = 16  # zval >> 16 → 16 layout buckets (top 4 bits)


def _z_interleave_sql(x: str, y: str, div: str) -> str:
    """Bit-interleaved Morton code of two ``_Z_BITS``-bit non-negative
    ints as a pure-arithmetic expression (portable: no engine bit
    intrinsics) — x occupies even bit positions, y odd.  ``div`` is the
    integer-division token ('div' Spark, '//' DuckDB)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def layout_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton-curve) layout assignment over orders, with the
    per-bucket locality evidence that justifies it: interleave the bits
    of two independent filter dimensions (customer bucket × order-day
    bucket) and split the curve into 16 contiguous z-ranges.  Each
    output row is one layout bucket with its row count and the min/max
    RECTANGLE it spans in (x, y) — the point of z-ordering is that both
    spans stay narrow SIMULTANEOUSLY (≈ n/√buckets per side), so
    file-level min/max statistics prune scans for range predicates on
    EITHER dimension; a single-column sort gives perfect x-spans and
    useless full-range y-spans.

    Scale shape: the z-value is ~40 integer ops of map-side arithmetic
    at scan speed; the bucket summary is one combinable groupBy over 16
    keys.  In production the table is written
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` or
    ``partitionBy(zbucket)`` — ``test_plans.py::
    test_zorder_store_prunes_bucket_partitions`` writes exactly that
    store and pins PartitionFilters pruning for a 2-D range predicate
    (the Delta OPTIMIZE ZORDER BY / Iceberg sort-order capability,
    re-expressed as plain Spark).

    Ref: scale op beyond the reference — lakehouse data-layout
    optimization for multi-dimensional scan pruning."""
    orders = load(spark, sf, "orders")
    x = F.col("o_custkey") % 1024
    # cast to long: datediff yields int32, and the oracle's date_diff
    # is BIGINT — min/max dtypes must agree for the driver's df() hash
    y = (
        F.datediff(F.to_date(F.col("o_orderdate")), F.to_date(F.lit("1992-01-01")))
        % 1024
    ).cast("long")
    z = F.expr(_z_interleave_sql("__x", "__y", "div"))
    with_z = orders.select(
        x.alias("__x"), y.alias("__y")
    ).select(
        "__x", "__y", z.alias("zval")
    ).select(
        "__x", "__y", "zval",
        F.expr(f"zval div {1 << _Z_BUCKET_SHIFT}").alias("zbucket"),
    )
    return (
        with_z.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__x").alias("min_x"),
            F.max("__x").alias("max_x"),
            F.min("__y").alias("min_y"),
            F.max("__y").alias("max_y"),
        )
        .select(
            "zbucket", "n_rows",
            "min_x", "max_x", "min_y", "max_y",
            (F.col("max_x") - F.col("min_x") + 1).alias("span_x"),
            (F.col("max_y") - F.col("min_y") + 1).alias("span_y"),
        )
        .orderBy("zbucket")
    )


ZORDER_SQL = f"""
WITH pts AS (
  SELECT o_custkey % 1024 AS x,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
  FROM orders
),
z AS (
  SELECT x, y, {_z_interleave_sql('x', 'y', '//')} AS zval FROM pts
),
b AS (
  SELECT x, y, zval, zval // {1 << _Z_BUCKET_SHIFT} AS zbucket FROM z
)
SELECT zbucket, COUNT(*) AS n_rows,
       MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y,
       MAX(x) - MIN(x) + 1 AS span_x, MAX(y) - MIN(y) + 1 AS span_y
FROM b GROUP BY zbucket ORDER BY zbucket
"""


_COMPACT_FILES = 32          # synthetic files per date partition
_COMPACT_TARGET_BYTES = 2048  # compaction bin target size


def layout_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning — the OPTIMIZE / auto-compaction
    bin-packing pass every lakehouse table needs: group a partition's
    small files into target-sized rewrite bins.  The file manifest is
    modeled from orders (partition = order month, file = orderkey%32
    within it, bytes = Σ(len(o_orderpriority)+64) — a deterministic stand-in
    for the transaction log's per-file size stats); the plan assigns
    files to bins NEXT-FIT-DECREASING: within each partition, files
    ordered by (bytes DESC, file_id), bin = floor(running-bytes-before
    / target).  Output is the per-bin rewrite manifest (n_files,
    total_bytes, max_file_bytes).

    Scale shape: the manifest build is one combinable groupBy over the
    data (the only corpus-sized pass); everything after runs on
    METADATA — the window is partitioned per date-partition and bounded
    by files-per-partition (≤32 here; ≤log-retention bounded in a real
    table), never corpus-sized.  Exactly how Delta OPTIMIZE plans: read
    the log's file list, bin-pack per partition, rewrite bins.

    Ref: scale op beyond the reference — lakehouse small-file
    compaction planning (Delta OPTIMIZE / Iceberg rewrite_data_files
    class) as plain Spark."""
    from pyspark.sql import Window

    orders = load(spark, sf, "orders")
    files = (
        orders.select(
            F.trunc(F.to_date(F.col("o_orderdate")), "month").alias("part_month"),
            (F.col("o_orderkey") % _COMPACT_FILES).alias("file_id"),
            (F.length("o_orderpriority") + F.lit(64)).alias("row_bytes"),
        )
        .groupBy("part_month", "file_id")
        .agg(F.sum("row_bytes").alias("bytes"))
    )
    w = (
        Window.partitionBy("part_month")
        .orderBy(F.col("bytes").desc(), F.col("file_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.select(
        "part_month",
        "bytes",
        F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("cum_before"),
    ).select(
        "part_month",
        "bytes",
        F.expr(f"cum_before div {_COMPACT_TARGET_BYTES}").alias("bin_id"),
    )
    return (
        planned.groupBy("part_month", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.max("bytes").alias("max_file_bytes"),
        )
        .orderBy("part_month", "bin_id")
    )


COMPACTION_SQL = f"""
WITH files AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS part_month,
         o_orderkey % {_COMPACT_FILES} AS file_id,
         CAST(SUM(length(o_orderpriority) + 64) AS BIGINT) AS bytes
  FROM orders GROUP BY 1, 2
),
planned AS (
  SELECT part_month, bytes,
         COALESCE(SUM(bytes) OVER (
           PARTITION BY part_month ORDER BY bytes DESC, file_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM files
)
SELECT part_month, CAST(cum_before // {_COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id,
       COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(bytes) AS BIGINT) AS max_file_bytes
FROM planned
GROUP BY part_month, bin_id
ORDER BY part_month, bin_id
"""


_SCD2_TS = ("1995-01-01", "1996-01-01", "1997-01-01")


def j_scd2_point_in_time(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time fact join against a REAL SCD2 dimension built by
    ``operators/scd2.py`` — each order joins the customer-dimension
    VERSION valid at its order date, the correctness trap every
    warehouse report over changing dimensions must get right (joining
    the current row instead silently rewrites history).

    The dimension is built in-plan by the actual operator: init at ts0,
    then two ``scd2_merge`` batches — at ts1 every key%4==0 customer
    moves segment (the rest re-send identically and must no-op); at ts2
    every key%8==0 customer changes balance (a second tracked-attr
    change on top of the first).  Because every version's validity
    interval is then fully determined by key arithmetic, the DuckDB
    oracle can enumerate the version table directly — so the driver
    green certifies ``scd2_merge``'s change detection, closing, and
    no-op semantics END-TO-END (previously pytest-gated only), plus the
    PIT join semantics themselves.

    Scale shape: the PIT join is an EQUI-join on the business key with
    the validity interval as a residual filter — per-key fan-out is the
    version count (≤3 here; bounded by change frequency in production),
    so the plan is one hash/sort-merge join on c_custkey, never a range
    explosion; the SCD2 build itself is keyed equi-join algebra
    (operator docstring).  Orders before ts0 predate the dimension and
    drop from the inner join (documented PIT semantics).

    Ref: reference keeps type-1 dims only (gold_analytics.py dim
    builds); SCD2 + PIT is the lakehouse upgrade, re-expressed as plain
    Spark."""
    from tlcn_oer_lakehouse_spark.operators.scd2 import scd2_init, scd2_merge

    ts0, ts1, ts2 = _SCD2_TS
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal"),
    )
    moved = F.when(F.col("c_custkey") % 4 == 0, F.lit("MOVED")).otherwise(
        F.col("c_mktsegment")
    )
    b1 = cust.withColumn("c_mktsegment", moved)
    b2 = b1.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 8 == 0,
            F.col("c_acctbal") + F.lit("100").cast("decimal(18,2)"),
        ).otherwise(F.col("c_acctbal")),
    )
    dim = scd2_init(cust, ts0)
    dim = scd2_merge(dim, b1, "c_custkey", ["c_mktsegment", "c_acctbal"], ts1)
    dim = scd2_merge(dim, b2, "c_custkey", ["c_mktsegment", "c_acctbal"], ts2)
    orders = load(spark, sf, "orders").select(
        "o_custkey",
        F.to_date(F.col("o_orderdate")).cast("timestamp").alias("od"),
        "o_totalprice",
    )
    pit = orders.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to"))),
    )
    return (
        pit.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("string").cast("double").alias("revenue"),
        )
        .orderBy("segment")
    )


SCD2_PIT_SQL = f"""
WITH cust AS (
  SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
),
dim AS (
  SELECT k, seg AS segment, TIMESTAMP '{_SCD2_TS[0]}' AS vf,
         CASE WHEN k % 4 = 0 THEN TIMESTAMP '{_SCD2_TS[1]}' END AS vt
  FROM cust
  UNION ALL
  SELECT k, 'MOVED', TIMESTAMP '{_SCD2_TS[1]}',
         CASE WHEN k % 8 = 0 THEN TIMESTAMP '{_SCD2_TS[2]}' END
  FROM cust WHERE k % 4 = 0
  UNION ALL
  SELECT k, 'MOVED', TIMESTAMP '{_SCD2_TS[2]}', NULL
  FROM cust WHERE k % 8 = 0
)
SELECT d.segment,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders o
JOIN dim d ON o.o_custkey = d.k
          AND CAST(o.o_orderdate AS TIMESTAMP) >= d.vf
          AND (d.vt IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < d.vt)
GROUP BY d.segment
ORDER BY d.segment
"""


def dq_benford_digits(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit conformance over order totals — the forensic
    data-quality screen (Benford 1938; Nigrini's audit practice):
    naturally-occurring multi-magnitude amounts follow
    P(d) = log₁₀(1 + 1/d); fabricated, truncated, or unit-mangled data
    doesn't, so per-digit deviation and the χ² statistic flag ingestion
    defects a null-count check can't see.

    Determinism: the leading digit is pure integer arithmetic on exact
    cents (value ≥ 1 cent: repeated div-by-10 via floor(log10) would be
    float — instead the digit comes from string form, identical in both
    engines since cents are exact BIGINT).  Counts are BIGINT; expected
    shares and each digit's χ² term follow the PSI ln-discipline —
    round the per-term double to 9 dp, sum as exact DECIMAL, one
    string→double hop out.

    Scale shape: one combinable 9-key groupBy over the fact plus a
    1-row total broadcast — map-side-combine to 9 rows, no window, no
    skew surface.

    Ref: scale op beyond the reference — forensic DQ screening for the
    observability family (complements dq_expectations' rule gates with
    a distributional audit)."""
    orders = load(spark, sf, "orders")
    return benford_table(orders.select(F.col("o_totalprice").alias("amount")))


def benford_table(amounts: DataFrame) -> DataFrame:
    """Core of :func:`dq_benford_digits` over a 1-column ``amount``
    frame — split out so constructed-input unit tests can pin the digit
    extraction edges (sub-dollar amounts, zero/negative exclusion) and
    the χ² terms (tests/test_queries_r10.py)."""
    import math

    cents = (F.col("amount").cast("decimal(18,2)") * 100).cast("long")
    # try_cast: a negative amount's cents string leads with '-' — under
    # ANSI cast that is a runtime error, not an excluded row (pinned by
    # test_benford_digit_extraction_edges); try_cast -> NULL -> filtered
    digit = F.substring(cents.cast("string"), 1, 1).try_cast("int")
    # counts persisted (≤9 rows): the total aggregate and the χ² output
    # both read it — uncached, the full amounts scan ran twice (r11)
    counts = (
        amounts.select(digit.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .persist()
    )
    tot = counts.agg(F.sum("n_obs").alias("n_total"))
    # per-digit Benford share as an exact 9-dp literal — identical on
    # both sides by construction (no runtime log in either engine)
    p_lit = F.element_at(
        F.array(*[
            F.lit(round(math.log10(1 + 1 / d), 9)) for d in range(1, 10)
        ]),
        F.col("digit"),
    )
    expected = F.col("n_total") * p_lit
    chi_term = F.round(
        (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected, 9
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(p_lit, 9).alias("p_benford"),
            F.round(F.col("n_obs").cast("double") / F.col("n_total"), 9)
            .alias("p_observed"),
            chi_term.alias("chi2_term"),
        )
        .orderBy("digit")
    )


_BENFORD_P = ", ".join(
    f"({d}, {round(__import__('math').log10(1 + 1 / d), 9)})" for d in range(1, 10)
)

BENFORD_SQL = f"""
WITH counts AS (
  SELECT TRY_CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders
  GROUP BY 1
  HAVING digit >= 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM counts),
benford_raw(digit, p_dec) AS (VALUES {_BENFORD_P}),
benford AS (SELECT digit, CAST(p_dec AS DOUBLE) AS p FROM benford_raw)
SELECT c.digit, c.n_obs,
       round(b.p, 9) AS p_benford,
       round(CAST(c.n_obs AS DOUBLE) / t.n_total, 9) AS p_observed,
       round((c.n_obs - t.n_total * b.p) * (c.n_obs - t.n_total * b.p)
             / (t.n_total * b.p), 9) AS chi2_term
FROM counts c CROSS JOIN tot t JOIN benford b USING (digit)
ORDER BY c.digit
"""


_ANALYZE_BUCKETS = 16


def layout_analyze_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style column statistics — the stats layer a cost-based
    optimizer reads (Spark CBO's `ANALYZE TABLE ... FOR COLUMNS`,
    Delta/Iceberg column stats): row count, null count, NDV, min/max
    and an equi-width histogram for ``o_totalprice``, one output row
    per bucket with the table-level stats alongside.

    Determinism: money values convert to EXACT INTEGER CENTS
    (decimal(18,2) × 100 → BIGINT) before any bucket math, so bucket
    edges are integer ceil-division — no float boundary can move a row
    between buckets across engines (the same discipline as the
    prefix-filter bounds).  NDV is an exact distinct (the approx path
    is a_hll_sketch/a_approx_count_distinct; stats tables at 100 TB
    typically accept approx — both forms exist in the registry, this
    one is the oracle-checkable exact form).

    Scale shape: pass 1 is a combinable 1-row stats aggregate
    (broadcast back as literals via a cross-joined 1-row frame); pass 2
    is a combinable 17-key bucket groupBy.  Both map-side-combine to
    O(buckets) rows — no window, no skew surface; distinct-count is the
    one shuffle keyed by value, the ANALYZE cost every engine pays.

    Ref: scale op beyond the reference — lakehouse/CBO statistics
    collection as plain Spark."""
    orders = load(spark, sf, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = orders.select(cents.alias("cents"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_rows_table"),
        F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.countDistinct("cents").alias("ndv"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )
    b = _ANALYZE_BUCKETS
    # integer width: ceil((max - min + 1) / b) so bucket ids stay 0..b-1
    width = F.expr(f"(max_cents - min_cents + {b}) div {b}")
    bucketed = (
        base.crossJoin(F.broadcast(stats))
        .select(
            F.expr(f"(cents - min_cents) div ((max_cents - min_cents + {b}) div {b})")
            .alias("bucket"),
            "n_rows_table", "n_null", "ndv", "min_cents", "max_cents",
        )
        .groupBy("bucket", "n_rows_table", "n_null", "ndv", "min_cents", "max_cents")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    lo = F.col("min_cents") + F.col("bucket") * width
    return bucketed.select(
        "bucket",
        lo.alias("lo_cents"),
        (lo + width - 1).alias("hi_cents"),
        "n_rows",
        "n_rows_table",
        "n_null",
        "ndv",
        "min_cents",
        "max_cents",
    ).orderBy("bucket")


ANALYZE_SQL = f"""
WITH base AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
stats AS (
  SELECT COUNT(*) AS n_rows_table,
         CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         COUNT(DISTINCT cents) AS ndv,
         MIN(cents) AS min_cents,
         MAX(cents) AS max_cents
  FROM base
),
bucketed AS (
  SELECT (cents - min_cents) // ((max_cents - min_cents + {_ANALYZE_BUCKETS}) // {_ANALYZE_BUCKETS}) AS bucket,
         n_rows_table, n_null, ndv, min_cents, max_cents
  FROM base CROSS JOIN stats
)
SELECT bucket,
       min_cents + bucket * ((max_cents - min_cents + {_ANALYZE_BUCKETS}) // {_ANALYZE_BUCKETS}) AS lo_cents,
       min_cents + (bucket + 1) * ((max_cents - min_cents + {_ANALYZE_BUCKETS}) // {_ANALYZE_BUCKETS}) - 1 AS hi_cents,
       COUNT(*) AS n_rows,
       n_rows_table, n_null, ndv, min_cents, max_cents
FROM bucketed
GROUP BY bucket, n_rows_table, n_null, ndv, min_cents, max_cents
ORDER BY bucket
"""


_WRITE_PLAN_TARGET_ROWS = 1000


def layout_write_skew_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Stats-CONSUMING layout decision (VERDICT r10 #7): the per-key
    frequency stats an ANALYZE pass collects (the frequent-value twin of
    :func:`layout_analyze_stats`' numeric histogram), driving a
    partitioned-write plan for the events table over its two candidate
    partition keys — ``event_type`` (5 hot keys → every key exceeds the
    per-file row target → decision 'split' with a ⌈n/target⌉ salted-
    subfile budget) and ``user_id`` (high-NDV, ≈100 rows/key at every sf
    → 'single').  BOTH decision branches are therefore present in the
    driver-hashed output at every scale, and the rule's inputs (count,
    ndv, share) ride alongside the decision so the oracle certifies the
    stats AND the rule.

    The executing twin — :func:`operators.skew.skew_partitioned_write`,
    which spreads each 'split' key over its planned subfiles via a
    deterministic row-hash salt before ``partitionBy(key)`` — is pinned
    by tests/test_operators_r11.py on both branches (file-count manifest
    + content round-trip).  The registry target of 1000 rows/file keeps
    both branches visible at sf0.01; production targets are ~10⁷ rows —
    the planner is parameterized, the rule identical.

    Scale shape: one combinable groupBy per key column + a 1-row total
    broadcast — the plan is O(ndv) metadata even at 100 TB.

    Ref: scale op beyond the reference — stats-driven write layout
    (Delta optimized-write/auto-compaction class); makes the ANALYZE
    stats layer load-bearing."""
    from tlcn_oer_lakehouse_spark.operators.skew import key_write_plan

    ev = load(spark, sf, "events")
    plans = [
        key_write_plan(ev, c, _WRITE_PLAN_TARGET_ROWS).select(
            F.lit(c).alias("key_col"), "*"
        )
        for c in ("event_type", "user_id")
    ]
    return plans[0].unionByName(plans[1]).orderBy("key_col", "key")


WRITE_SKEW_SQL = f"""
WITH both_keys AS (
  SELECT 'event_type' AS key_col, CAST(event_type AS VARCHAR) AS key, COUNT(*) AS n_rows_key
  FROM events GROUP BY 1, 2
  UNION ALL
  SELECT 'user_id', CAST(user_id AS VARCHAR), COUNT(*)
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT key_col, CAST(SUM(n_rows_key) AS BIGINT) AS n_rows_table,
         COUNT(*) AS ndv
  FROM both_keys GROUP BY 1
)
SELECT b.key_col, b.key, b.n_rows_key, t.n_rows_table, t.ndv,
       round(CAST(b.n_rows_key AS DOUBLE) / t.n_rows_table, 9) AS share,
       CAST((b.n_rows_key + {_WRITE_PLAN_TARGET_ROWS - 1}) // {_WRITE_PLAN_TARGET_ROWS} AS BIGINT) AS n_files,
       CASE WHEN (b.n_rows_key + {_WRITE_PLAN_TARGET_ROWS - 1}) // {_WRITE_PLAN_TARGET_ROWS} > 1
            THEN 'split' ELSE 'single' END AS decision
FROM both_keys b JOIN tot t USING (key_col)
ORDER BY key_col, key
"""


_DPP_STORES_WRITTEN: set[str] = set()


def layout_dpp_star_join(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning, driver-certified: a star join whose
    fact-side partition filter is only knowable at RUNTIME (it comes
    from a dim-side predicate on a non-partition attribute), over a
    REAL status-partitioned fact store.

    Store setup (documented, z-order-style): the orders fact is written
    ``partitionBy(o_orderstatus)`` to a scratch store and read back —
    DPP exists only for file-source scans, so the layout must be
    materialized, exactly as ``layout_zorder``'s serving claim is
    pinned against a zbucket-partitioned store.  In production this
    write IS the table's layout, done once; the probe below is the
    every-query read path.

    The probe joins the fact against a tiny status dim filtered on its
    ``label`` attribute — static pruning can't see through the join, so
    Spark injects a ``dynamicpruningexpression`` subquery into the fact
    scan's PartitionFilters (pinned in tests/test_dpp.py and for THIS
    builder in test_plans.py) and a 100 TB status-partitioned fact
    reads exactly one partition.  Output: per-month open-order revenue,
    decimal-exact.

    Ref: scale op beyond the reference — the join-driven partition
    pruning every date/status-partitioned lakehouse fact depends on;
    completes layout_zorder (static 2-D pruning) with the dynamic form."""
    import hashlib
    import os
    import tempfile

    orders = load(spark, sf, "orders")
    # Store path is keyed by the REAL sf path (cwd-independent) AND the
    # PID, and written at most once per process (ADVICE r10): a
    # world-shared overwrite-on-every-call path races overwrite-vs-read
    # when two sessions (pytest + driver_sim) hit the same sf_dir.
    key = hashlib.md5(os.path.realpath(sf).encode()).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_dpp_store_{key}_pid{os.getpid()}",
        "orders_by_status",
    )
    if store not in _DPP_STORES_WRITTEN:
        (
            orders.select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
                "o_orderstatus",
            )
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(store)
        )
        _DPP_STORES_WRITTEN.add(store)
    fact = spark.read.parquet(store)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "open")
    return (
        fact.join(F.broadcast(dim), fact["o_orderstatus"] == dim["status"])
        .groupBy(
            F.trunc(F.to_date(F.col("o_orderdate")), "month").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("string").cast("double").alias("revenue"),
        )
        .orderBy("order_month")
    )


DPP_STAR_SQL = """
WITH dim AS (
  SELECT * FROM (VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending'))
       AS d(status, label)
  WHERE label = 'open'
)
SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS order_month,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders JOIN dim ON o_orderstatus = dim.status
GROUP BY 1
ORDER BY 1
"""


SPECS = [
    QuerySpec("silver_normalize", silver_normalize, SILVER_NORMALIZE_SQL,
              ref="transformer.py:479-567 (U1) as pure column expressions",
              doc="JSON extraction + uid/fingerprint + derived cols", tags=("silver",)),
    QuerySpec("k1_merge_upsert", k1_merge_upsert, K1_SQL,
              ref="transformer.py:2427-2458 (K1 MERGE upsert semantics)",
              doc="merged table after change-detected upsert", tags=("sink",)),
    QuerySpec("k2_merge_delete", k2_merge_delete, K2_SQL,
              ref="transformer.py:2460-2484 (K2 MERGE delete semantics)",
              doc="survivors after stale-key delete, per-nation summary", tags=("sink",)),
    QuerySpec("gold_fact_coverage", gold_fact_coverage, GOLD_COVERAGE_SQL,
              ref="gold_analytics.py:494-607 (fact_program_coverage)",
              doc="coverage % fact per nation", tags=("gold", "bench")),
    QuerySpec("gold_dim_customer", gold_dim_customer, GOLD_DIM_SQL,
              ref="gold_analytics.py:418-492 (dim_oer_resources build)",
              doc="dim with grouped-join counts + surrogate key + SCD cols",
              tags=("gold",)),
    QuerySpec("gold_bridge_weighted", gold_bridge_weighted, GOLD_BRIDGE_SQL,
              ref="gold_analytics.py:725-774 (bridge_oer_subjects)",
              doc="M:N weighted bridge with RI inner joins", tags=("gold",)),
    QuerySpec("ivm_incremental_join", ivm_incremental_join, IVM_JOIN_SQL,
              ref="scale op: JOIN-view delta rule (Blakeley et al. "
                  "SIGMOD'86) — ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC with broadcast "
                  "delta sides; oracle is the full recompute over the "
                  "merged state",
              doc="orders⋈customer view maintained under two-sided "
                  "insert batches",
              tags=("lakehouse", "incremental")),
    QuerySpec("ivm_incremental_aggregate", ivm_incremental_aggregate, IVM_SQL,
              ref="scale op; CDF-fold view maintenance (Delta CDF / "
                  "Iceberg changelog consumer pattern) — O(changes) "
                  "refresh, oracle proves ≡ full recompute",
              doc="grouped aggregate maintained by folding signed change rows",
              tags=("lakehouse",)),
    QuerySpec("dq_expectations", dq_expectations, DQ_EXPECTATIONS_SQL,
              ref="scale op; DLT-style declarative expectations upgrading "
                  "the reference's imperative DAG gates (validation tasks)",
              doc="per-rule warn/drop/quarantine DQ metrics in one pass",
              tags=("lakehouse",)),
    QuerySpec("layout_zorder", layout_zorder, ZORDER_SQL,
              ref="scale op: Morton-curve data layout for 2-D scan "
                  "pruning (Delta OPTIMIZE ZORDER BY / Iceberg "
                  "sort-order class) — pure-arithmetic interleave, "
                  "partition pruning pinned in test_plans.py",
              doc="z-order bucket assignment + per-bucket locality "
                  "rectangles over orders",
              tags=("lakehouse",)),
    QuerySpec("layout_compaction_plan", layout_compaction_plan, COMPACTION_SQL,
              ref="scale op: small-file compaction bin-packing (Delta "
                  "OPTIMIZE / Iceberg rewrite_data_files class) — "
                  "metadata-sized planning after one combinable "
                  "manifest groupBy",
              doc="next-fit-decreasing compaction bins per date "
                  "partition with rewrite manifest",
              tags=("lakehouse",)),
    QuerySpec("j_scd2_point_in_time", j_scd2_point_in_time, SCD2_PIT_SQL,
              ref="scale op: SCD2 dimension built by operators/scd2.py "
                  "(init + two merges: move/no-op/second-change cases) "
                  "+ point-in-time fact join — equi-join on the "
                  "business key, validity interval as a bounded-fanout "
                  "residual; the oracle enumerates the fully-determined "
                  "version table, driver-certifying scd2_merge "
                  "end-to-end",
              doc="orders joined to the customer-dim version valid at "
                  "order date; revenue per (historical) segment",
              tags=("lakehouse", "join")),
    QuerySpec("dq_benford_digits", dq_benford_digits, BENFORD_SQL,
              ref="scale op: Benford first-digit forensic DQ screen — "
                  "leading digit from the exact-cents string (no float "
                  "log10), 9-key combinable groupBy, per-digit chi2 "
                  "terms via the rounded-literal discipline",
              doc="first-digit distribution vs Benford's law over order "
                  "totals, per-digit chi2 terms",
              tags=("lakehouse", "eval")),
    QuerySpec("layout_analyze_stats", layout_analyze_stats, ANALYZE_SQL,
              ref="scale op: ANALYZE-style CBO column statistics "
                  "(row/null counts, exact NDV, min/max, equi-width "
                  "histogram) — integer-cent bucket math so no float "
                  "boundary moves a row between engines; two combinable "
                  "passes, O(buckets) output",
              doc="column stats + 16-bucket equi-width histogram over "
                  "order totalprice",
              tags=("lakehouse",)),
    QuerySpec("layout_write_skew_plan", layout_write_skew_plan, WRITE_SKEW_SQL,
              ref="scale op: stats-driven partitioned-write planning "
                  "(Delta optimized-write / auto-compaction class) — "
                  "per-key frequent-value stats turned into a "
                  "split/single file-budget decision; the ANALYZE "
                  "layer's first load-bearing consumer; executing twin "
                  "skew_partitioned_write pinned on both branches",
              doc="per-key write-layout decisions (split hot partition "
                  "keys into salted subfiles) over events, stats "
                  "alongside the decision",
              tags=("lakehouse",)),
    QuerySpec("layout_dpp_star_join", layout_dpp_star_join, DPP_STAR_SQL,
              ref="scale op: dynamic partition pruning on a status-"
                  "partitioned fact store — the dim-side filter's "
                  "partition set is injected into the fact scan at "
                  "runtime (dynamicpruningexpression, plan-pinned); "
                  "store written during the documented setup step, "
                  "z-order-style",
              doc="runtime-pruned star join over a partitioned fact "
                  "store: per-month open-order revenue",
              tags=("lakehouse",)),
]
