"""Assorted registry rows: nested JSON series, regex rank inference,
string parsing, ISO formatting, key set-difference, ingest uniqueness,
rank-dependent lookup joins, percent-of-group, sessionization, as-of
joins, merges and SCD2, graph rows (PageRank, triangles), time-series
windows, and the spatial rows (ray-cast region assignment, haversine
nearest site).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import read_table

_S = "string"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q: nested chart-series JSON (A12) — per order priority an ordered list
# of {x: status, y: count} pairs serialized compactly
# (R/export.R:696-706,795-821).


def q_nested_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("y")
    )
    return counts.groupBy("o_orderpriority").agg(
        F.to_json(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("y")).alias("neg"),
                            F.col("o_orderstatus").alias("x"),
                            F.col("y"),
                        )
                    )
                ),
                lambda s: F.struct(s.x.alias("x"), s.y.alias("y")),
            )
        ).alias("series")
    ).select("o_orderpriority", "series")


SQL_NESTED_SERIES = """
WITH counts AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS y
  FROM orders GROUP BY o_orderpriority, o_orderstatus
)
SELECT o_orderpriority,
       to_json(list({'x': o_orderstatus, 'y': y}
                    ORDER BY -y, o_orderstatus)) AS series
FROM counts GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q: taxonomic-rank-style regex inference (M3 + P5) — classify part
# types by regex the way the reference infers Genus/Family/Order from
# scientific names (R/model-taxa.R:362-380).


def q_rank_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    rank = (
        F.when(F.col("p_type").rlike("^PROMO"), F.lit("Genus"))
        .when(F.col("p_type").rlike("^STANDARD"), F.lit("Family"))
        .when(F.col("p_type").rlike("(ANODIZED|BURNISHED)$"), F.lit("Order"))
        .otherwise(F.lit("Species"))
    )
    return (
        part.withColumn("rank", rank)
        .groupBy("rank", "p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select("rank", "p_brand", "n_parts")
    )


SQL_RANK_INFERENCE = """
SELECT CASE WHEN regexp_matches(p_type, '^PROMO') THEN 'Genus'
            WHEN regexp_matches(p_type, '^STANDARD') THEN 'Family'
            WHEN regexp_matches(p_type, '(ANODIZED|BURNISHED)$') THEN 'Order'
            ELSE 'Species' END AS rank,
       p_brand, COUNT(*) AS n_parts
FROM part GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q: string split/parse battery (P10/P11) — the GPS-coordinate split and
# name-normalization scalar functions
# (R/preprocessing-surveys.R:98-102,1299-1313).


def q_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    name_parts = F.split(F.col("c_name"), "#")
    return customer.select(
        "c_custkey",
        name_parts.getItem(0).alias("name_prefix"),
        name_parts.getItem(1).cast("long").alias("name_number"),
        F.regexp_extract(F.col("c_name"), r"(\d+)$", 1).alias("digits"),
        F.initcap(F.lower(F.col("c_mktsegment"))).alias("segment_label"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "segment_key"
        ),
        F.length(F.trim(F.col("c_name"))).cast("long").alias("name_len"),
    )


SQL_STRING_OPS = """
SELECT c_custkey,
       string_split(c_name, '#')[1] AS name_prefix,
       CAST(string_split(c_name, '#')[2] AS BIGINT) AS name_number,
       COALESCE(regexp_extract(c_name, '(\\d+)$', 1), '') AS digits,
       CASE WHEN len(c_mktsegment) > 0
            THEN upper(c_mktsegment[1:1]) || lower(c_mktsegment[2:])
            ELSE c_mktsegment END AS segment_label,
       c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS segment_key,
       CAST(length(trim(c_name)) AS BIGINT) AS name_len
FROM customer
"""


# ---------------------------------------------------------------------------
# Q: ISO-8601 timestamp formatting (D6) — min/max order dates per
# priority as ISO Z strings (R/export.R:334).


def q_iso_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select("o_orderpriority", "first_order", "last_order", "n_orders")


SQL_ISO_FORMAT = """
SELECT o_orderpriority,
       strftime(MIN(o_orderdate), '%Y-%m-%dT%H:%M:%SZ') AS first_order,
       strftime(MAX(o_orderdate), '%Y-%m-%dT%H:%M:%SZ') AS last_order,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q: key set-difference (U2) — customers active in 1995 but not 1996
# (R/validation.R:1035-1040 setdiff semantics).


def q_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("c_custkey")
    )
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("c_custkey")
    )
    lapsed = y95.distinct().join(y96.distinct(), "c_custkey", "left_anti")
    return (
        customer.join(lapsed, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_lapsed"))
        .select("c_mktsegment", "n_lapsed")
    )


SQL_EXCEPT_KEYS = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
lapsed AS (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
SELECT c.c_mktsegment, COUNT(*) AS n_lapsed
FROM customer c JOIN lapsed l ON c.c_custkey = l.o_custkey
GROUP BY c.c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q: ingest uniqueness audit (S3) — the hard-stop assertion expressed as
# an auditable result (R/ingestion.R:45-50).


def q_uniqueness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")

    def audit(df: DataFrame, name: str, id_col: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(id_col).alias("n_rows"),
            F.countDistinct(id_col).alias("n_distinct"),
            (F.count(id_col) == F.countDistinct(id_col)).alias("is_unique"),
        )

    return audit(orders, "orders", "o_orderkey").unionByName(
        audit(events, "events", "event_id")
    )


SQL_UNIQUENESS_CHECK = """
SELECT 'orders' AS table_name, COUNT(o_orderkey) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       COUNT(o_orderkey) = COUNT(DISTINCT o_orderkey) AS is_unique
FROM orders
UNION ALL
SELECT 'events', COUNT(event_id), COUNT(DISTINCT event_id),
       COUNT(event_id) = COUNT(DISTINCT event_id)
FROM events
"""


# ---------------------------------------------------------------------------
# Q: rank-dependent lookup join (J9) — different lookup table/key per
# inferred rank, unioned (R/model-taxa.R:404-440).


def q_rank_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    small = (
        part.filter(F.col("p_type").startswith("SMALL"))
        .withColumn("n_nationkey", F.col("p_size") % 25)
        .join(F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("lookup_label"))),
              "n_nationkey")
        .select("p_partkey", F.lit("small").alias("route"), "lookup_label")
    )
    large = (
        part.filter(F.col("p_type").startswith("LARGE"))
        .withColumn("r_regionkey", F.col("p_size") % 5)
        .join(F.broadcast(region.select("r_regionkey", F.col("r_name").alias("lookup_label"))),
              "r_regionkey")
        .select("p_partkey", F.lit("large").alias("route"), "lookup_label")
    )
    other = part.filter(
        ~(F.col("p_type").startswith("SMALL") | F.col("p_type").startswith("LARGE"))
    ).select("p_partkey", F.lit("other").alias("route"), F.lit(None).cast("string").alias("lookup_label"))
    return small.unionByName(large).unionByName(other)


SQL_RANK_LOOKUP = """
SELECT p.p_partkey, 'small' AS route, n.n_name AS lookup_label
FROM part p JOIN nation n ON (p.p_size % 25) = n.n_nationkey
WHERE p.p_type LIKE 'SMALL%'
UNION ALL
SELECT p.p_partkey, 'large', r.r_name
FROM part p JOIN region r ON (p.p_size % 5) = r.r_regionkey
WHERE p.p_type LIKE 'LARGE%'
UNION ALL
SELECT p_partkey, 'other', NULL
FROM part WHERE p_type NOT LIKE 'SMALL%' AND p_type NOT LIKE 'LARGE%'
"""


# ---------------------------------------------------------------------------
# Q: percent-of-group (W6) — brand share of nation revenue, exact
# decimal totals divided as doubles (R/export.R:663-667).


def q_pct_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        lineitem.withColumn(
            "rev",
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")),
        )
        .join(F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
              "l_partkey")
        .join(F.broadcast(supplier.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
              "l_suppkey")
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")),
              "s_nationkey")
        .groupBy("n_name", "p_brand")
        .agg(F.sum("rev").alias("rev_c"))
    )
    w = Window.partitionBy("n_name")
    pct = (
        (F.col("rev_c") / 10000.0)
        / (F.sum("rev_c").over(w) / 10000.0)
        * F.lit(100.0)
    )
    return rev.select(
        "n_name",
        "p_brand",
        (F.col("rev_c") / 10000.0).alias("brand_revenue"),
        F.round(pct, 6).alias("pct_of_nation"),
    )


SQL_PCT_OF_GROUP = """
WITH rev AS (
  SELECT n.n_name, p.p_brand,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS rev_c
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, p.p_brand
)
SELECT n_name, p_brand,
       rev_c / 10000.0 AS brand_revenue,
       ROUND((rev_c / 10000.0)
             / (SUM(rev_c) OVER (PARTITION BY n_name) / 10000.0) * 100.0, 6)
         AS pct_of_nation
FROM rev
"""


# ---------------------------------------------------------------------------
# Q: event-time sessionization — Spark's native session_window vs the
# SQL gaps-and-islands formulation.  The streaming-capable stateful
# operator (SURVEY §2.12 / §7 extension), exercised in batch mode so the
# oracle can verify it.


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    sessions = (
        events.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return sessions


SQL_SESSIONIZATION = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS session_value
FROM sess GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# Q: as-of join — each click gets the user's most recent prior view.
# Spark has no native as-of join; operators/asof.py composes it from a
# tagged union + last-ignorenulls window.  The oracle is DuckDB's
# NATIVE ASOF LEFT JOIN, so this checks the composition against an
# independent first-class implementation.


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        "ts",
        F.col("value").alias("view_value"),
    )
    out = asof_join(clicks, views, on="ts", by="user_id")
    return out.select(
        "click_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        "view_id",
        "view_value",
    )


SQL_ASOF_JOIN = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
),
v AS (
  SELECT event_id AS view_id, user_id, ts, value AS view_value
  FROM events WHERE event_type = 'view'
)
SELECT c.click_id, c.user_id, c.ts AS click_ts, v.view_id, v.view_value
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""


# ---------------------------------------------------------------------------
# Q: rollup multi-granularity aggregate — replaces the reference's
# union-of-separate-groupBys idiom (SURVEY §2.4 note,
# R/preprocessing-surveys.R:908-915) with one pass.


def q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0).alias("total_qty"),
        )
        .select("l_returnflag", "l_linestatus", "n_rows", "total_qty")
    )


SQL_ROLLUP_SUMMARY = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS total_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# Q: running cumulative total (frame-spec window) — monthly revenue per
# nation with a running sum.  The reference has no frame specs
# (SURVEY §2.5 note); this is the portal-style extension.


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    monthly = (
        orders.join(
            F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
            "c_nationkey",
        )
        .groupBy(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("n_name").orderBy("month")
    return monthly.select(
        "n_name",
        "month",
        (F.col("rev_c") / 100.0).alias("monthly_revenue"),
        (F.sum("rev_c").over(w) / 100.0).alias("running_revenue"),
        ((F.col("rev_c") - F.lag("rev_c", 1).over(wl)) / 100.0).alias("mom_delta"),
    )


SQL_RUNNING_TOTAL = """
WITH monthly AS (
  SELECT n.n_name,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, CAST(date_trunc('month', o.o_orderdate) AS DATE)
)
SELECT n_name, month,
       rev_c / 100.0 AS monthly_revenue,
       SUM(rev_c) OVER (PARTITION BY n_name ORDER BY month
                        ROWS UNBOUNDED PRECEDING) / 100.0 AS running_revenue,
       (rev_c - LAG(rev_c, 1) OVER (PARTITION BY n_name ORDER BY month)) / 100.0
         AS mom_delta
FROM monthly
"""


# ---------------------------------------------------------------------------
# Q: geo rollup + attribute join (the export geo product shape,
# R/export.R:711-746): per-(region, segment) stats with a HAVING floor,
# rolled up to per-region medians (counts summed), then left-joined as
# attributes onto the region layer — composed from the same plan
# functions the fisheries export uses (plans/export.py).  Means are
# exact-integer-cents so both engines agree bit-for-bit; medians are
# interpolated and ROUND(x, 6) on both sides (playbook rules 1-2).
# Scale: the layer and rollup are admin-region sized — broadcast; the
# only fact shuffle is the first groupBy.


def q_geo_rollup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.export import geo_region_indicators, per_site_stats, region_median_rollup

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    trips = customer.join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey")
        ),
        "c_nationkey",
    ).select(
        "n_name",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    )
    site_stats = per_site_stats(
        trips,
        ["n_name", "c_mktsegment"],
        {
            "mean_acctbal": F.sum("bal_c").cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        },
        min_submissions=3,
    )
    rollup = region_median_rollup(site_stats, "n_name", ["mean_acctbal"])
    layer = nation.select(
        F.lower(F.col("n_name")).alias("region"), "n_regionkey"
    ).join(
        F.broadcast(region.select(F.col("r_regionkey").alias("n_regionkey"), "r_name")),
        "n_regionkey",
    ).select("region", "r_name")
    return geo_region_indicators(layer, rollup, on="region")


SQL_GEO_ROLLUP_JOIN = """
WITH trips AS (
  SELECT n.n_name, c.c_mktsegment,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
site_stats AS (
  SELECT n_name, c_mktsegment, COUNT(*) AS n_submissions,
         CAST(SUM(bal_c) AS DOUBLE) / COUNT(*) / 100.0 AS mean_acctbal
  FROM trips
  GROUP BY n_name, c_mktsegment
  HAVING COUNT(*) > 3 AND c_mktsegment IS NOT NULL
),
rollup AS (
  SELECT lower(n_name) AS region,
         CAST(SUM(n_submissions) AS BIGINT) AS n_submissions,
         ROUND(quantile_cont(mean_acctbal, 0.5), 6) AS mean_acctbal
  FROM site_stats GROUP BY n_name
),
layer AS (
  SELECT lower(n.n_name) AS region, r.r_name
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT l.region, l.r_name, s.n_submissions, s.mean_acctbal
FROM layer l LEFT JOIN rollup s ON l.region = s.region
"""


# ---------------------------------------------------------------------------
# Q: MERGE emulation (curated-zone incremental upsert) — source rows win
# on key match, unmatched target rows kept, source-only rows insert
# (operators/merge.py::merge_upsert; anti-join + unionByName, one key
# shuffle, delta side broadcastable).  The "delta" here: customers with
# an open order get their balance bumped.


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import merge_upsert

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    target = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
        F.lit(0).alias("is_updated"),
    )
    open_cust = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    source = target.join(open_cust, "c_custkey", "semi").select(
        "c_custkey",
        "c_name",
        (F.col("bal_c") + F.lit(1000)).alias("bal_c"),
        F.lit(1).alias("is_updated"),
    )
    return merge_upsert(target, source, ["c_custkey"])


SQL_MERGE_UPSERT = """
WITH tgt AS (
  SELECT c_custkey, c_name,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
         0 AS is_updated
  FROM customer
),
src AS (
  SELECT c_custkey, c_name, bal_c + 1000 AS bal_c, 1 AS is_updated
  FROM tgt
  WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
)
SELECT * FROM tgt WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
UNION ALL
SELECT * FROM src
"""


# ---------------------------------------------------------------------------
# Q: SCD2 version construction from an event stream
# (operators/merge.py::scd2_from_events): per customer, each change of
# order priority over time opens a dimension version with
# valid_from/valid_to/is_current; consecutive duplicates collapse.
# Deterministic total order via the (date, orderkey) tiebreak.


def q_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import scd2_from_events

    orders = _t(spark, sf_dir, "orders")
    ev = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("ts"),
        F.col("o_orderkey").alias("tk"),
    )
    return scd2_from_events(ev, "cust", "prio", "ts", tiebreak="tk")


SQL_SCD2_VERSIONS = """
WITH ev AS (
  SELECT o_custkey AS cust, o_orderpriority AS prio,
         CAST(o_orderdate AS DATE) AS ts, o_orderkey AS tk
  FROM orders
),
changes AS (
  -- first-row marker kept separate from LAG(prio): "no previous row"
  -- must not be conflated with "previous prio was NULL", or
  -- consecutive NULL attribute values would open a new version here
  -- while the operator's null-safe struct compare collapses them
  SELECT cust, prio, ts, tk,
         ROW_NUMBER() OVER (PARTITION BY cust ORDER BY ts, tk) AS rn,
         LAG(prio) OVER (PARTITION BY cust ORDER BY ts, tk) AS prev
  FROM ev
  QUALIFY rn = 1 OR prio IS DISTINCT FROM prev
),
versions AS (
  SELECT cust, prio, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY cust ORDER BY ts, tk) AS valid_to
  FROM changes
)
SELECT cust, prio, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM versions
"""


# ---------------------------------------------------------------------------
# Q: the reference's full seven-stat per-site table (R/export.R:604-617)
# — submission count + six means per (district, landing_site), sample
# floor, non-null site.  Exact-cents means (plans/export.py::
# sites_stats_full exact_cents=True) so both engines agree bit-for-bit.
# Scale: one fact shuffle for the orders/customer joins, then one
# groupBy; nation broadcasts; the shipdate filter pushes to the scan.


def _cents_mean_sql(col: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST(round({col} * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)"
        f" / COUNT({col}) / 100.0"
    )


def q_site_stats_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.export import sites_stats_full

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1998-06-01")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    trips = (
        li.select("l_orderkey", "l_quantity", "l_tax", "l_extendedprice", "l_discount")
        .join(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_mktsegment", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("district"),
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("landing_site"),
            F.col("l_quantity").alias("n_fishers"),
            F.col("l_tax").alias("trip_duration"),
            F.col("l_extendedprice").alias("catch_kg"),
            F.col("l_discount").alias("cpue"),
            F.col("o_totalprice").alias("price_per_kg"),
            F.col("c_acctbal").alias("rpue"),
        )
    )
    return sites_stats_full(trips, exact_cents=True)


SQL_SITE_STATS_FULL = f"""
WITH trips AS (
  SELECT n.n_name AS district,
         NULLIF(c.c_mktsegment, 'BUILDING') AS landing_site,
         l.l_quantity AS n_fishers, l.l_tax AS trip_duration,
         l.l_extendedprice AS catch_kg, l.l_discount AS cpue,
         o.o_totalprice AS price_per_kg, c.c_acctbal AS rpue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_shipdate >= DATE '1998-06-01'
),
stats AS (
  SELECT district, landing_site, COUNT(*) AS n_submissions,
         {_cents_mean_sql('n_fishers')} AS n_fishers,
         {_cents_mean_sql('trip_duration')} AS trip_duration_hrs,
         {_cents_mean_sql('catch_kg')} AS mean_catch_kg,
         {_cents_mean_sql('cpue')} AS cpue_kg_fisher_hr,
         {_cents_mean_sql('price_per_kg')} AS mean_catch_price_mzn,
         {_cents_mean_sql('rpue')} AS price_per_kg_mzn
  FROM trips GROUP BY district, landing_site
)
SELECT * FROM stats
WHERE n_submissions > 3 AND landing_site IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Q: PII redaction (the scrub-before-training step) — standard
# email/ip/phone/long-number patterns over customer names (the embedded
# account numbers genuinely fire the long-number rule), per-segment
# rollup proving the counts.


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import redact_pii

    customer = _t(spark, sf_dir, "customer")
    scrubbed = redact_pii(customer, text_col="c_name")
    return scrubbed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_redactions").cast("bigint").alias("n_redactions"),
        F.countDistinct("redacted").alias("n_distinct_redacted"),
    )


SQL_PII_SCRUB = r"""
WITH pass1 AS (
  SELECT c_mktsegment,
         len(regexp_extract_all(c_name,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n1,
         regexp_replace(c_name,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM customer
),
pass2 AS (
  SELECT c_mktsegment,
         n1 + len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n2,
         regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS t2
  FROM pass1
),
pass3 AS (
  SELECT c_mktsegment,
         n2 + len(regexp_extract_all(t2, '\d{6,}')) AS n3,
         regexp_replace(t2, '\d{6,}', '[NUM]', 'g') AS t3
  FROM pass2
),
pass4 AS (
  SELECT c_mktsegment,
         n3 + len(regexp_extract_all(t3,
             '\b\d{2,3}[- ]\d{3}[- ]\d{3,4}(?:[- ]\d{1,4})?\b')) AS n4,
         regexp_replace(t3,
             '\b\d{2,3}[- ]\d{3}[- ]\d{3,4}(?:[- ]\d{1,4})?\b', '[PHONE]', 'g') AS t4
  FROM pass3
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(n4) AS BIGINT) AS n_redactions,
       COUNT(DISTINCT t4) AS n_distinct_redacted
FROM pass4 GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q: interval (range) join — every view within 24h AFTER a click by
# the same user (attribution windows, sensor validity ranges, session
# containment).  Spark has no native range-join strategy (a raw theta
# join plans as a nested loop); operators/joins.interval_join
# bucketizes time so the join is an equi-join on (user, bin) with the
# exact range predicate as residual.  The oracle is DuckDB's plain
# BETWEEN join — an independent first-class evaluation of the same
# predicate.  The lag is integer microseconds (epoch_us difference),
# exact on both engines.


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import interval_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("w_end"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    out = interval_join(
        views, clicks, point_col="vts", start_col="w_start", end_col="w_end",
        by=["user_id"], bin_seconds=21600,
    )
    return out.select(
        "click_id",
        "user_id",
        "view_id",
        (F.unix_micros(F.col("vts")) - F.unix_micros(F.col("w_start"))).alias(
            "lag_us"
        ),
    )


SQL_INTERVAL_JOIN = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
),
v AS (
  SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT c.click_id, c.user_id, v.view_id,
       epoch_us(v.ts) - epoch_us(c.ts) AS lag_us
FROM c JOIN v
  ON c.user_id = v.user_id
 AND v.ts BETWEEN c.ts AND c.ts + INTERVAL 24 HOUR
"""


# ---------------------------------------------------------------------------
# Q: ordered conversion funnel — signup → click → purchase, each stage
# counting only users who completed it strictly AFTER the previous
# stage (operators/windows.funnel_stages: one user-keyed conditional-
# min aggregate chain, no event-grain self-joins).  Counts are
# integers; the only division is the final pct (rounded 6).


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import funnel_stages

    events = _t(spark, sf_dir, "events")
    return funnel_stages(events, ["signup", "click", "purchase"])


SQL_CONVERSION_FUNNEL = """
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events
  WHERE event_type IN ('signup', 'click', 'purchase')
  GROUP BY user_id
),
g1 AS (
  SELECT t0 AS g0,
         CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN t1 END AS g1, t2
  FROM u
),
g2 AS (
  SELECT g0, g1,
         CASE WHEN g1 IS NOT NULL AND t2 > g1 THEN t2 END AS g2
  FROM g1
),
c AS (
  SELECT COUNT(g0) AS n0, COUNT(g1) AS n1, COUNT(g2) AS n2 FROM g2
)
SELECT CAST(0 AS INTEGER) AS stage_idx, 'signup' AS stage,
       CAST(n0 AS BIGINT) AS n_users,
       ROUND(n0 / CAST(n0 AS DOUBLE), 6) AS pct_of_first FROM c
UNION ALL
SELECT 1, 'click', n1, ROUND(n1 / CAST(n0 AS DOUBLE), 6) FROM c
UNION ALL
SELECT 2, 'purchase', n2, ROUND(n2 / CAST(n0 AS DOUBLE), 6) FROM c
"""


# ---------------------------------------------------------------------------
# Q: cohort retention matrix — users bucketed by the week of their
# first event; each (cohort, weeks-since) cell counts active users
# (operators/windows.retention_matrix).  Day indexes via integer epoch
# arithmetic so both engines floor identically.


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import retention_matrix

    events = _t(spark, sf_dir, "events")
    return retention_matrix(events, period_days=7)


SQL_RETENTION_COHORTS = """
WITH d AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS dd FROM events
),
first AS (
  SELECT user_id, MIN(dd) AS d0 FROM d GROUP BY user_id
),
cell AS (
  SELECT DISTINCT d.user_id,
         CAST(floor(f.d0 / 7) AS BIGINT) AS cohort_period,
         CAST(floor((d.dd - f.d0) / 7) AS BIGINT) AS periods_since
  FROM d JOIN first f ON d.user_id = f.user_id
)
SELECT cohort_period, periods_since, CAST(COUNT(*) AS BIGINT) AS n_active
FROM cell GROUP BY cohort_period, periods_since
"""


# ---------------------------------------------------------------------------
# Q: fixed-iteration PageRank (operators/graph.py) on the symmetrized
# order–supplier bipartite graph from lineitem — the iterative-
# algorithm family beyond connected components.  Ranks stay in integer
# nano-units (contribution = rank div degree, damping = (85·Σ) div
# 100), so the 3 unrolled iterations replay bit-exactly in DuckDB.


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    # integer node ids (orders even, suppliers odd): long keys hash and
    # shuffle far cheaper than 'o123' strings across the 3 iterations;
    # the supplier label is reconstructed only on the final output rows
    base = li.select(
        (F.col("l_orderkey") * 2).alias("o"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    # both edge directions from ONE pass over the distinct pairs via a
    # per-row explode (r14): the former union of two projections made
    # each branch re-run the distinct's HashAggregate above a
    # ReusedExchange — the shuffle was shared, the agg pass was not.
    # Identical edge set; every downstream step is order-insensitive.
    edges = base.select(
        F.explode(
            F.array(
                F.struct(F.col("o").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("o").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # base is distinct and the even/odd split keeps directions disjoint
    pr = pagerank(edges, n_iters=3, assume_distinct=True)
    return pr.filter(F.col("node") % 2 == 1).select(
        F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")).alias("node"),
        F.round("rank", 9).alias("rank"),
    )


def _sql_pagerank_iter(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT e.dst AS node,
         tp.t + (85 * SUM(r.rank_q // d.out_deg)) // 100 AS rank_q
  FROM {prev} r
  JOIN deg d ON r.node = d.src
  JOIN e ON e.src = r.node
  CROSS JOIN tp
  GROUP BY e.dst, tp.t
)"""


SQL_PAGERANK = f"""
WITH base AS (
  SELECT DISTINCT l_orderkey * 2 AS o, l_suppkey * 2 + 1 AS s
  FROM lineitem
),
e AS (
  SELECT o AS src, s AS dst FROM base
  UNION ALL
  SELECT s AS src, o AS dst FROM base
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
tp AS (SELECT (15::BIGINT * 1000000000::BIGINT) // (100::BIGINT * n) AS t FROM nn),
r0 AS (
  SELECT node, (SELECT 1000000000::BIGINT // n FROM nn) AS rank_q FROM nodes
),
{_sql_pagerank_iter('r0', 'r1')},
{_sql_pagerank_iter('r1', 'r2')},
{_sql_pagerank_iter('r2', 'r3')}
SELECT 's' || CAST((node - 1) // 2 AS VARCHAR) AS node,
       ROUND(rank_q / 1000000000.0, 9) AS rank
FROM r3 WHERE node % 2 = 1
"""


# ---------------------------------------------------------------------------
# Q: RANGE-frame trailing window — 28-day trailing revenue per nation
# at daily grain.  The frame is VALUE-based (rangeBetween over an
# integer day index), not row-based: days with no orders simply don't
# contribute, and gaps wider than the window drop out — semantics a
# rowsBetween frame cannot express on sparse dates.  Cents-integer
# sums keep both engines exact.


def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    daily = (
        orders.join(
            F.broadcast(
                customer.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
            ),
            "c_nationkey",
        )
        .groupBy(
            "n_name",
            F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
            .cast("long")
            .alias("day_idx"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))
    )
    w = Window.partitionBy("n_name").orderBy("day_idx").rangeBetween(-27, 0)
    return daily.select(
        "n_name",
        "day_idx",
        (F.col("rev_c") / 100.0).alias("day_revenue"),
        (F.sum("rev_c").over(w) / 100.0).alias("trailing_28d_revenue"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


SQL_TRAILING_WINDOW = """
WITH daily AS (
  SELECT n.n_name,
         CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS day_idx,
         SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, day_idx
)
SELECT n_name, day_idx,
       rev_c / 100.0 AS day_revenue,
       SUM(rev_c) OVER (
         PARTITION BY n_name ORDER BY day_idx
         RANGE BETWEEN 27 PRECEDING AND CURRENT ROW
       ) / 100.0 AS trailing_28d_revenue,
       CAST(COUNT(*) OVER (
         PARTITION BY n_name ORDER BY day_idx
         RANGE BETWEEN 27 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS days_in_window
FROM daily
"""


# ---------------------------------------------------------------------------
# Q: exact triangle counting (operators/graph.py::triangle_counts) on
# the part co-occurrence graph (parts sharing an order).  The engine
# runs the degree-ordered node-iterator (hub-safe at scale); the
# oracle brute-forces all a<b<c closed triples — algorithm-independent
# ground truth.


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import triangle_counts

    # Pair generation WITHOUT the li self-join (r14, guide §2.4): the
    # former shape was distinct(li) → localCheckpoint → self-join on
    # l_orderkey → distinct (two exchanges + an eager checkpoint job +
    # a join).  Each order's parts fit in one row (orders are bounded
    #-size), so collect_set per order + per-row combination arrays
    # yield the identical a<b pair set with ONE aggregation exchange
    # and no join at all; sort_array makes i<j ⇔ a<b.  Verified
    # row-identical at sf0.1 and bit-exact vs the oracle at sf0.01.
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("_ps"))
    )
    p = F.col("_ps")
    n = F.size(p)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(p, i + 1, n - i),
                lambda x: F.struct(F.get(p, i - 1).alias("a"), x.alias("b")),
            ),
        )
    )
    # sequence(1, 0) would descend — guard the single-part orders
    pairs = F.when(n >= 2, pairs).otherwise(
        F.array().cast("array<struct<a:bigint,b:bigint>>")
    )
    und = (
        ps.select(F.explode(pairs).alias("_pr"))
        .select(F.col("_pr.a").alias("a"), F.col("_pr.b").alias("b"))
        .distinct()
        # und feeds the degree union (twice) + the orientation join
        # inside triangle_counts — materialize once (self-join rule)
        .localCheckpoint()
    )
    tc = triangle_counts(und)
    return (
        tc.orderBy(F.col("triangles").desc(), F.col("node").asc())
        .limit(50)
        .select(F.col("node").alias("part"), "triangles")
    )


SQL_TRIANGLE_COUNT = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x
  JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS triangles
FROM nodes
GROUP BY node
ORDER BY triangles DESC, part ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Q: time-series audit — r8 consolidation (VERDICT r7 Next #4) of the
# gap_fill and rolling_zscore rows onto ONE shared daily spine: high-
# value (>250k) nation revenue, materialized once (localCheckpoint,
# the dup_span_audit precedent) and fed to both operators.  The gap
# branch densifies nations 0-4 with LOCF + integer-exact interpolation
# (the daily-grain generalization of the reference's monthly
# `complete()`, R/export.R:136-151); the z branch scores every nation
# against its trailing 28-observation window (integer-dollar sums stay
# exact BIGINTs).  Normalized (stat, nation, day, value, aux1, aux2)
# schema — gap: value/locf/interp revenue; z: revenue/n_obs/zscore.


def q_ts_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import gap_fill_interpolate, rolling_zscore

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    obs = (
        orders.filter(F.col("o_totalprice") > 250000)
        .join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v_c")
        )
    ).localCheckpoint()

    filled = gap_fill_interpolate(
        obs.filter(F.col("c_nationkey") < 5).select(
            "c_nationkey", "day", F.col("v_c").alias("v_q")
        ),
        ["c_nationkey"],
        "day",
        "v_q",
    )
    gap = filled.select(
        F.lit("gap").alias("stat"),
        F.col("c_nationkey").alias("nation"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("value_q") / 100.0).alias("value"),
        (F.col("locf_q") / 100.0).alias("aux1"),
        (F.col("interp_q") / 100.0).alias("aux2"),
    )

    zin = obs.select("c_nationkey", "day", F.expr("v_c div 100").alias("v_q"))
    scored = rolling_zscore(zin, ["c_nationkey"], "day", "v_q", window=28, min_obs=8)
    z = scored.filter(
        F.col("zscore").isNotNull() & (F.abs(F.col("zscore")) >= 2.0)
    ).select(
        F.lit("z").alias("stat"),
        F.col("c_nationkey").alias("nation"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v_q").cast("double").alias("value"),
        F.col("n_obs").cast("double").alias("aux1"),
        F.col("zscore").alias("aux2"),
    )
    return gap.unionByName(z)


SQL_TS_AUDIT = """
WITH obs AS (
  SELECT c.c_nationkey AS nation, CAST(o.o_orderdate AS DATE) AS day,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS v_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_totalprice > 250000
  GROUP BY 1, 2
),
gobs AS (SELECT nation, day, v_c AS v_q FROM obs WHERE nation < 5),
bounds AS (SELECT nation, MIN(day) AS d0, MAX(day) AS d1 FROM gobs GROUP BY 1),
spine AS (
  SELECT nation, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
j AS (
  SELECT s.nation, s.day, o.v_q
  FROM spine s LEFT JOIN gobs o ON s.nation = o.nation AND s.day = o.day
),
w AS (
  SELECT nation, day, v_q,
    last_value(v_q IGNORE NULLS) OVER (
      PARTITION BY nation ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v_q IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY nation ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v_q IGNORE NULLS) OVER (
      PARTITION BY nation ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v_q IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY nation ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
),
zobs AS (SELECT nation, day, CAST(v_c // 100 AS BIGINT) AS v_q FROM obs),
zw AS (
  SELECT nation, day, v_q,
         CAST(COUNT(v_q) OVER tw AS BIGINT) AS n,
         CAST(SUM(v_q) OVER tw AS BIGINT) AS s,
         CAST(SUM(v_q * v_q) OVER tw AS BIGINT) AS q
  FROM zobs
  WINDOW tw AS (PARTITION BY nation ORDER BY day
                ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT nation, day, v_q, n,
         ROUND((v_q - s / n) / sqrt(q / n - (s / n) * (s / n)), 6) AS zscore
  FROM zw
  WHERE n >= 8 AND (q / n - (s / n) * (s / n)) > 0
)
SELECT 'gap' AS stat, nation, strftime(day, '%Y-%m-%d') AS day,
       v_q / 100.0 AS value,
       pv / 100.0 AS aux1,
       (CASE WHEN v_q IS NOT NULL THEN v_q
             WHEN pv IS NOT NULL AND nv IS NOT NULL
             THEN pv + (nv - pv) * (day - pd) // (nd - pd)
        END) / 100.0 AS aux2
FROM w
UNION ALL
SELECT 'z' AS stat, nation, strftime(day, '%Y-%m-%d') AS day,
       CAST(v_q AS DOUBLE) AS value, CAST(n AS DOUBLE) AS aux1, zscore AS aux2
FROM z
WHERE ABS(zscore) >= 2.0
"""


# ---------------------------------------------------------------------------
# Q: market-basket association rules (operators/aggregates.py) — the
# k=2 Apriori step over order baskets: support / confidence / lift for
# part pairs, top 100 by lift.  All ratios are single divisions of
# exact BIGINT counts — no sum-order hazard.


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import association_rules

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    rules = association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
    )
    return rules.orderBy(
        F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(100)


SQL_ASSOC_RULES = """
WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
nb AS (SELECT COUNT(DISTINCT bk) AS n FROM li),
ic AS (SELECT it, COUNT(*) AS n_i FROM li GROUP BY it),
p AS (
  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS n_ab
  FROM li x JOIN li y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT item_a, item_b, p.n_ab, a.n_i AS n_a, b.n_i AS n_b,
       ROUND(p.n_ab / nb.n, 6) AS support,
       ROUND(p.n_ab / a.n_i, 6) AS confidence_ab,
       ROUND((p.n_ab * nb.n) / (a.n_i * b.n_i), 6) AS lift
FROM p
JOIN ic a ON p.item_a = a.it
JOIN ic b ON p.item_b = b.it
CROSS JOIN nb
ORDER BY lift DESC, item_a ASC, item_b ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q: time-weighted mean (TWAP) of the event value stream per user —
# each value holds until the user's next event, the mean weights by
# holding duration.  The correct average for irregularly-sampled state;
# a plain AVG over-weights bursty periods.  Integer micro-unit values ×
# whole-second durations keep both sums engine-exact.


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import time_weighted_mean

    ev = _t(spark, sf_dir, "events")
    return time_weighted_mean(
        ev, ["user_id"], "ts", "value", order_tiebreak="event_id"
    )


SQL_TIME_WEIGHTED_AVG = """
WITH p AS (
  SELECT user_id,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vq,
         (epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC))
          - epoch_us(ts)) // 1000000 AS dur_s
  FROM events
),
a AS (
  SELECT user_id,
         COUNT(*) AS n_obs,
         COALESCE(SUM(dur_s), 0) AS total_dur_s,
         SUM(vq * dur_s) AS svd,
         SUM(dur_s) AS sd
  FROM p GROUP BY user_id
)
SELECT user_id, n_obs,
       CAST(total_dur_s AS BIGINT) AS total_dur_s,
       ROUND(CAST(svd AS DOUBLE) / CAST(sd AS DOUBLE) / 1000000.0, 6)
         AS tw_mean
FROM a WHERE total_dur_s > 0
"""


# ---------------------------------------------------------------------------
# geo_assign — ray-cast region assignment under the hard oracle.  The
# fixture exercises the FULL RFC 7946 surface of
# operators/geo.py::polygon_rings/point_in_rings —
# north carries a HOLE (points inside it must stay unassigned) and the
# new "isles" region is a two-part MultiPolygon — so the summed
# multi-ring crossing parity sits under the driver hash, not just the
# single-ring case.

# ONE source of truth for the fixture ring sets, rendered into both
# engines: region name → (geojson type, list of rings).
GEO_RINGS: dict[str, tuple[str, list[list[tuple[float, float]]]]] = {
    "north": (
        "Polygon",
        [
            [(31.0, -16.0), (39.0, -16.0), (39.0, -12.5), (31.0, -12.5)],
            # the hole: a lake in the middle of the north block
            [(34.0, -15.0), (36.0, -15.0), (36.0, -13.5), (34.0, -13.5)],
        ],
    ),
    "south_c": (
        "Polygon",
        [[
            (30.5, -25.5), (38.0, -25.5), (38.0, -23.0), (33.0, -23.0),
            (33.0, -20.0), (38.0, -20.0), (38.0, -18.0), (30.5, -18.0),
        ]],
    ),
    "east_tri": (
        "Polygon",
        [[(38.5, -22.0), (39.9, -24.0), (39.9, -20.0)]],
    ),
    "isles": (
        "MultiPolygon",
        [
            [(30.2, -17.4), (32.2, -17.4), (32.2, -16.4), (30.2, -16.4)],
            [(38.6, -17.4), (39.8, -17.4), (39.8, -16.4), (38.6, -16.4)],
        ],
    ),
}


def q_geo_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geo import assign_regions
    from .session import read_table

    cust = read_table(spark, sf_dir, "customer")
    points = cust.select(
        F.col("c_custkey").alias("pid"),
        # multiplicative spread so even a 150-row scale factor covers
        # every fixture region (37, 53 coprime to the moduli)
        (F.lit(30.0) + (F.col("c_custkey") * 37 % 1000) / 100.0).alias("lon"),
        (F.lit(-26.0) + (F.col("c_custkey") * 53 % 700) / 50.0).alias("lat"),
    )

    def _close(ring):
        return [[x, y] for x, y in ring] + [[ring[0][0], ring[0][1]]]

    rows = []
    for name, (gtype, rings) in GEO_RINGS.items():
        if gtype == "Polygon":
            coords = [_close(r) for r in rings]
        else:  # MultiPolygon: each ring is its own single-ring part
            coords = [[_close(r)] for r in rings]
        rows.append((name, json.dumps({"type": gtype, "coordinates": coords})))
    regions = spark.createDataFrame(
        rows, "region string, geometry_json string"
    )
    out = assign_regions(points, regions)
    return out.select("pid", "lon", "lat", F.col("region").cast(_S).alias("region"))


def _sql_geo_assign() -> str:
    region_rows = []
    for name, (_gtype, rings) in GEO_RINGS.items():
        rings_sql = (
            "["
            + ", ".join(
                "["
                + ", ".join(f"{{'x': {x!r}, 'y': {y!r}}}" for x, y in ring)
                + "]"
                for ring in rings
            )
            + "]::STRUCT(x DOUBLE, y DOUBLE)[][]"
        )
        xs = [x for ring in rings for x, _ in ring]
        ys = [y for ring in rings for _, y in ring]
        region_rows.append(
            f"SELECT '{name}' AS region, {rings_sql} AS rs, "
            f"{min(xs)!r} AS xmin, {max(xs)!r} AS xmax, "
            f"{min(ys)!r} AS ymin, {max(ys)!r} AS ymax"
        )
    regions = " UNION ALL ".join(region_rows)
    # summed crossing parity over EVERY ring of the region (holes and
    # MultiPolygon parts alike) — exactly point_in_rings
    cross_one = (
        "list_reduce(list_transform(generate_series(1, len(rr)), i -> "
        "CASE WHEN ((rr[i].y > p.lat) "
        "!= (rr[CASE WHEN i = len(rr) THEN 1 ELSE i + 1 END].y > p.lat)) "
        "AND (p.lon < "
        "(rr[CASE WHEN i = len(rr) THEN 1 ELSE i + 1 END].x - rr[i].x) "
        "* (p.lat - rr[i].y) "
        "/ (rr[CASE WHEN i = len(rr) THEN 1 ELSE i + 1 END].y - rr[i].y) "
        "+ rr[i].x) THEN 1 ELSE 0 END), (a, b) -> a + b)"
    )
    return f"""
WITH points AS (
  SELECT c_custkey AS pid,
         30.0 + (c_custkey * 37 % 1000) / 100.0 AS lon,
         -26.0 + (c_custkey * 53 % 700) / 50.0 AS lat
  FROM customer
),
regions AS ({regions}),
hits AS (
  SELECT p.pid, r.region
  FROM points p, regions r
  WHERE p.lon >= r.xmin AND p.lon <= r.xmax
    AND p.lat >= r.ymin AND p.lat <= r.ymax
    AND list_reduce(
          list_transform(r.rs, rr -> {cross_one}),
          (a, b) -> a + b) % 2 = 1
)
SELECT p.pid, p.lon, p.lat, CAST(h.region AS VARCHAR) AS region
FROM points p LEFT JOIN hits h ON p.pid = h.pid
"""


# ---------------------------------------------------------------------------
# nearest_audit — the haversine + nearest-site argmin under the hard
# oracle (the geo_assign discipline).  Points
# synthesize deterministically from customer keys (the geo_assign
# spread, so every SF covers the whole fixture box); six literal
# landing sites are rendered from ONE python dict into BOTH engines.
# The oracle replays haversine (radians/sin/cos/asin/sqrt — the same
# libm-class chain as the registered ln rows; meters round to 3dp, and
# tools/boundary_audit-style margins are pytest-pinned: argmin gaps and
# range-gate margins sit >> any last-ulp drift) and the deterministic
# (distance, site) tie order nearest_site uses.

NEAREST_SITES: dict[str, tuple[float, float]] = {
    "maputo": (32.57, -25.97),
    "beira": (34.84, -19.84),
    "quelimane": (36.89, -17.88),
    "angoche": (39.91, -16.23),
    "nacala": (40.67, -14.56),
    "pemba": (40.52, -12.97),
}

_NEAREST_RANGE_M = 400_000.0


def _nearest_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import read_table

    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("pid"),
        (F.lit(30.0) + (F.col("c_custkey") * 37 % 1000) / 100.0).alias("lon"),
        (F.lit(-26.0) + (F.col("c_custkey") * 53 % 700) / 50.0).alias("lat"),
    )


def q_nearest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geo import nearest_site

    points = _nearest_points(spark, sf_dir)
    sites = spark.createDataFrame(
        [(name, lon, lat) for name, (lon, lat) in NEAREST_SITES.items()],
        "site string, site_lon double, site_lat double",
    )
    out = nearest_site(
        points,
        sites,
        id_col="pid",
        max_distance_m=_NEAREST_RANGE_M,
        keep_site_cols=["site"],
    )
    return out.select(
        "pid", "lon", "lat",
        F.col("site").cast("string").alias("site"),
        F.col("site_distance_m").cast("double").alias("site_distance_m"),
    )


def _sql_nearest_audit() -> str:
    site_rows = " UNION ALL ".join(
        f"SELECT '{name}' AS site, {lon!r} AS slon, {lat!r} AS slat"
        for name, (lon, lat) in NEAREST_SITES.items()
    )
    # exactly operators/geo.py::haversine_m: pow-squared half-angle
    # sines, IUGG mean radius
    d = (
        "2 * 6371008.8 * asin(sqrt("
        "pow(sin(radians(s.slat - p.lat) / 2), 2)"
        " + cos(radians(p.lat)) * cos(radians(s.slat))"
        " * pow(sin(radians(s.slon - p.lon) / 2), 2)))"
    )
    return f"""
WITH points AS (
  SELECT c_custkey AS pid,
         30.0 + (c_custkey * 37 % 1000) / 100.0 AS lon,
         -26.0 + (c_custkey * 53 % 700) / 50.0 AS lat
  FROM customer
),
sites AS ({site_rows}),
cand AS (
  SELECT p.pid, s.site, {d} AS dm
  FROM points p CROSS JOIN sites s
),
pick AS (
  SELECT pid, site, dm,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dm, site) AS rn
  FROM cand WHERE dm <= {_NEAREST_RANGE_M!r}
)
SELECT p.pid, p.lon, p.lat, CAST(k.site AS VARCHAR) AS site,
       CAST(round(k.dm, 3) AS DOUBLE) AS site_distance_m
FROM points p LEFT JOIN (SELECT * FROM pick WHERE rn = 1) k
  ON p.pid = k.pid
"""


# ---------------------------------------------------------------------------
# exports

QUERIES = {
    "nested_series": q_nested_series,
    "interval_join": q_interval_join,
    "conversion_funnel": q_conversion_funnel,
    "retention_cohorts": q_retention_cohorts,
    "rank_inference": q_rank_inference,
    "string_ops": q_string_ops,
    "iso_format": q_iso_format,
    "except_keys": q_except_keys,
    "uniqueness_check": q_uniqueness_check,
    "rank_lookup": q_rank_lookup,
    "pct_of_group": q_pct_of_group,
    "sessionization": q_sessionization,
    "rollup_summary": q_rollup_summary,
    "asof_join": q_asof_join,
    "running_total": q_running_total,
    "geo_rollup_join": q_geo_rollup_join,
    "site_stats_full": q_site_stats_full,
    "pii_scrub": q_pii_scrub,
    "merge_upsert": q_merge_upsert,
    "scd2_versions": q_scd2_versions,
    "pagerank": q_pagerank,
    "trailing_window": q_trailing_window,
    "triangle_count": q_triangle_count,
    "ts_audit": q_ts_audit,
    "assoc_rules": q_assoc_rules,
    "time_weighted_avg": q_time_weighted_avg,
    "geo_assign": q_geo_assign,
    "nearest_audit": q_nearest_audit,
}


def oracle_sql() -> dict[str, str]:
    return {
        "nested_series": SQL_NESTED_SERIES,
        "interval_join": SQL_INTERVAL_JOIN,
        "conversion_funnel": SQL_CONVERSION_FUNNEL,
        "retention_cohorts": SQL_RETENTION_COHORTS,
        "rank_inference": SQL_RANK_INFERENCE,
        "string_ops": SQL_STRING_OPS,
        "iso_format": SQL_ISO_FORMAT,
        "except_keys": SQL_EXCEPT_KEYS,
        "uniqueness_check": SQL_UNIQUENESS_CHECK,
        "rank_lookup": SQL_RANK_LOOKUP,
        "pct_of_group": SQL_PCT_OF_GROUP,
        "sessionization": SQL_SESSIONIZATION,
        "rollup_summary": SQL_ROLLUP_SUMMARY,
        "asof_join": SQL_ASOF_JOIN,
        "running_total": SQL_RUNNING_TOTAL,
        "geo_rollup_join": SQL_GEO_ROLLUP_JOIN,
        "site_stats_full": SQL_SITE_STATS_FULL,
        "pii_scrub": SQL_PII_SCRUB,
        "merge_upsert": SQL_MERGE_UPSERT,
        "scd2_versions": SQL_SCD2_VERSIONS,
        "pagerank": SQL_PAGERANK,
        "trailing_window": SQL_TRAILING_WINDOW,
        "triangle_count": SQL_TRIANGLE_COUNT,
        "ts_audit": SQL_TS_AUDIT,
        "assoc_rules": SQL_ASSOC_RULES,
        "time_weighted_avg": SQL_TIME_WEIGHTED_AVG,
        "geo_assign": _sql_geo_assign(),
        "nearest_audit": _sql_nearest_audit(),
    }


UNIONS: dict[str, tuple[str, str]] = {}
