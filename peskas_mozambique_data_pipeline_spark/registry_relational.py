"""Relational registry rows over the TPC-H-shaped harness tables: trip
rollups, star-join enrichment, densified monthly medians, top-k with an
Other bucket, robust MAD bounds, reshapes, semi/anti joins, the
pricing summary, N-ary merges, the conditional 1:1 join, the flag
battery, fuzzy dedup, quantile coefficients, LW model math and events
windowing.  Same cross-engine determinism rules as registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.columns import flag_concat
from .operators import aggregates as agg_ops
from .operators import joins as join_ops
from .operators import reshape as reshape_ops
from .operators import windows as win_ops
from .operators.aggregates import distinct_last_wins
from .session import read_table



def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def cents(col: str | F.Column) -> F.Column:
    """2-decimal money column → exact integer cents.

    Integer-cents aggregation is ~4× faster than decimal128 sums and
    produces bit-identical doubles after the final division (both
    engines round-to-nearest the same exact rational).  The inputs are
    2-decimal values, so round(x*100) recovers the integer exactly —
    x*100 lands within 1 ulp of it, never at a .5 boundary.  Row
    magnitudes: price ≤ ~1e5 → cents ≤ 1e7; long sums stay exact far
    beyond harness scale (overflow would need ~1e11 rows of max price).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def _revenue_cents() -> F.Column:
    """Revenue in cents·100 units (scale 4): price_c × (100 − disc_c)."""
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def _r6(c):
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# Q: N-ary full outer merge by key (J2) — per-returnflag order slices
# full-joined on l_orderkey, the reference's reduce(full_join) merge of
# general/trip/catch/market frames (R/preprocessing-surveys.R:286-293).


def q_nary_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")

    def slice_for(flag: str, alias: str) -> DataFrame:
        return (
            lineitem.filter(F.col("l_returnflag") == flag)
            .groupBy("l_orderkey")
            .agg(
                (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0)
                .alias(f"{alias}_qty"),
                F.count(F.lit(1)).alias(f"{alias}_rows"),
            )
        )

    merged = join_ops.nary_full_join(
        [slice_for("R", "r"), slice_for("N", "n"), slice_for("A", "a")],
        "l_orderkey",
    )
    return merged.select("l_orderkey", "r_qty", "r_rows", "n_qty", "n_rows", "a_qty", "a_rows")


SQL_NARY_FULL_JOIN = """
WITH r AS (
  SELECT l_orderkey,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS r_qty,
         COUNT(*) AS r_rows
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
),
n AS (
  SELECT l_orderkey,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS n_qty,
         COUNT(*) AS n_rows
  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_orderkey
),
a AS (
  SELECT l_orderkey,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS a_qty,
         COUNT(*) AS a_rows
  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_orderkey
)
SELECT l_orderkey, r_qty, r_rows, n_qty, n_rows, a_qty, a_rows
FROM r FULL JOIN n USING (l_orderkey) FULL JOIN a USING (l_orderkey)
"""


# ---------------------------------------------------------------------------
# Q: conditional 1:1 merge (J5) — click events ↔ view events on
# (event_date, user_id), joined ONLY for user-days with exactly one row
# on each side; the GPS-trip ↔ landing merge (R/merge-trips.R:42-73).


def q_conditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    base = events.select(
        F.col("ts").cast("date").alias("event_date"),
        "user_id",
        "event_id",
        "event_type",
        "value",
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_date",
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    views = base.filter(F.col("event_type") == "view").select(
        "event_date",
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    merged = join_ops.conditional_one_to_one_merge(clicks, views, ["event_date", "user_id"])
    return merged.select(
        "event_date", "user_id", "click_id", "click_value", "view_id", "view_value"
    )


SQL_CONDITIONAL_MERGE = """
WITH c AS (
  SELECT CAST(ts AS DATE) AS event_date, user_id,
         event_id AS click_id, value AS click_value,
         COUNT(*) OVER (PARTITION BY CAST(ts AS DATE), user_id) AS n
  FROM events WHERE event_type = 'click'
),
v AS (
  SELECT CAST(ts AS DATE) AS event_date, user_id,
         event_id AS view_id, value AS view_value,
         COUNT(*) OVER (PARTITION BY CAST(ts AS DATE), user_id) AS n
  FROM events WHERE event_type = 'view'
),
merged AS (
  SELECT COALESCE(c.event_date, v.event_date) AS event_date,
         COALESCE(c.user_id, v.user_id) AS user_id,
         c.click_id, c.click_value, v.view_id, v.view_value
  FROM (SELECT * FROM c WHERE n = 1) c
  FULL JOIN (SELECT * FROM v WHERE n = 1) v
    ON c.event_date = v.event_date AND c.user_id = v.user_id
)
SELECT event_date, user_id, click_id, click_value, view_id, view_value FROM merged
UNION ALL
SELECT event_date, user_id, click_id, click_value, NULL, NULL FROM c WHERE n > 1
UNION ALL
SELECT event_date, user_id, NULL, NULL, view_id, view_value FROM v WHERE n > 1
"""


# ---------------------------------------------------------------------------
# Q: rule-flag battery + consolidation + explode (M5 + A9 + R6) — per
# line-item rule flags concat_ws'd per order, then exploded one row per
# flag and counted (R/validation.R:127-234,1291-1294).


def q_flag_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    # r14 (guide §2.3/§2.4): the per-order distinct-flag set is a 4-bit
    # BITMASK rolled up with bit_or — codegen HashAggregate, 8 bytes of
    # shuffle state per order — and the per-flag order counts fall out
    # of ONE tiny global sum of the mask bits.  The former shape
    # collect_list'ed per-row flag arrays (ObjectHashAggregate, array
    # payload through the exchange), exploded them back out, and paid a
    # second flag-keyed shuffle just to count.  Same (flag, n_orders)
    # rows: a flag's count is exactly the number of orders whose mask
    # has its bit set, and flags with zero orders were absent before
    # (groupBy on exploded rows) so the n_orders > 0 filter matches.
    flags = ("big_qty", "high_disc", "returned", "high_tax")
    preds = (
        F.col("l_quantity") > 45,
        F.col("l_discount") > 0.08,
        F.col("l_returnflag") == "R",
        F.col("l_tax") > 0.07,
    )
    row_mask = None
    for b, pred in enumerate(preds):
        term = F.when(pred, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        row_mask = term if row_mask is None else row_mask + term
    per_order = (
        lineitem.select("l_orderkey", row_mask.alias("_mask"))
        .groupBy("l_orderkey")
        .agg(F.bit_or("_mask").alias("_mask"))
    )
    counts = per_order.agg(
        *[
            F.sum(
                F.shiftright(F.col("_mask"), b).bitwiseAND(F.lit(1).cast("long"))
            ).alias(name)
            for b, name in enumerate(flags)
        ]
    )
    return (
        counts.unpivot([], list(flags), "flag", "n_orders")
        .filter(F.col("n_orders") > 0)
        .select("flag", "n_orders")
    )


SQL_FLAG_BATTERY = """
WITH per_line AS (
  SELECT l_orderkey, flag
  FROM lineitem, UNNEST(LIST_VALUE(
    CASE WHEN l_quantity > 45 THEN 'big_qty' END,
    CASE WHEN l_discount > 0.08 THEN 'high_disc' END,
    CASE WHEN l_returnflag = 'R' THEN 'returned' END,
    CASE WHEN l_tax > 0.07 THEN 'high_tax' END)) AS t(flag)
  WHERE flag IS NOT NULL
),
per_order AS (
  SELECT DISTINCT l_orderkey, flag FROM per_line
)
SELECT flag, COUNT(*) AS n_orders FROM per_order GROUP BY flag
"""


# ---------------------------------------------------------------------------
# Q: FULL two-stage validation battery (M5 complete) — the reference's
# 13-flag design (R/validation.R:127-201 stage-1 rules incl. the
# per-group bounds join for flags 3/4; :308-430 composite flags 8-11 on
# the no-flag subset, merged back with a full join).  TPC-H analog:
# per-brand size bounds stand in for per-taxon length bounds; per-order
# integer indicators stand in for price_kg/CPUE/RPUE.  All thresholds
# and bounds are integer-exact so both engines agree bit-for-bit.
# Scale: bounds broadcast; lineitem⋈orders/part are co-keyed shuffle
# joins; one scan and one shuffle produce both stages — the per-order
# aggregation carries the indicator sums alongside the flag rollup and
# stage 2 is a column predicate on the no-flag rows.


def q_flag_battery_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")

    bounds = part.groupBy("p_brand").agg(
        (F.min("p_size") + F.lit(1)).alias("min_size_b"),
        F.expr("(min(p_size) + 3 * max(p_size)) div 4").alias("max_size_b"),
    )
    enriched = (
        lineitem.join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand", "p_size")),
            "l_partkey",
        )
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus", "o_orderdate"
            ),
            "l_orderkey",
        )
        .join(F.broadcast(bounds), "p_brand")
    )
    tax_code = F.expr("nullif(l_returnflag, 'N')")
    # carry the stage-2 indicator inputs through the flag projection:
    # the part/bounds joins are inner on always-matching FKs, so this
    # frame has exactly the lineitem⋈orders row set — ONE scan and ONE
    # shuffle produce both the flag rollup and the per-order indicators
    # (the old shape re-scanned lineitem and re-joined orders for
    # stage 2)
    # per-row flags as ONE bigint BITMASK, rolled up with bit_or (r14,
    # guide §2.3 narrower types + §2.4 aggregate before you shuffle):
    # the former collect_list of per-row string ARRAYS forced an
    # ObjectHashAggregate (no codegen, object hash map) and shuffled an
    # array<string> per row; bit_or keeps the whole rollup in codegen'd
    # HashAggregate with 8 bytes of state per order.  The flag STRING
    # is rebuilt post-agg by decoding the mask bits in the LEXICOGRAPHIC
    # order of the flag labels ("1"<"12"<"13"<"2"<…<"7") — exactly the
    # order array_sort put the string flags in, so the output string is
    # bit-identical to the old array_distinct+array_sort+array_join.
    def _mask(cond, flag: int):
        return F.when(cond, F.lit(1 << flag).cast("long")).otherwise(F.lit(0).cast("long"))

    row_mask = (
        _mask((F.col("o_orderstatus") == "P") & tax_code.isNull(), 1)
        + _mask(tax_code.isNotNull() & (F.col("l_quantity") <= 1), 2)
        + _mask(F.col("p_size") < F.col("min_size_b"), 3)
        + _mask(F.col("p_size") > F.col("max_size_b"), 4)
        + _mask(F.col("l_quantity") > 45, 5)
        + _mask(F.col("l_discount") > 0.09, 6)
        + _mask(F.col("l_tax") > 0.07, 7)
        + _mask(F.col("l_quantity") >= 50, 12)
        + _mask(
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) > 90,
            13,
        )
    )
    flagged = enriched.select(
        "l_orderkey",
        row_mask.alias("flag_mask"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c_row"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("rev_c_row"),
        "o_orderstatus",
    )
    # lexicographic order of the stage-1 flag labels — the order the
    # old array_sort(array<string>) emitted
    _LEX_FLAGS = (1, 12, 13, 2, 3, 4, 5, 6, 7)
    decoded = F.concat_ws(
        ",",
        *[
            F.when(
                F.col("_mask").bitwiseAND(F.lit(1 << f).cast("long")) != 0,
                F.lit(str(f)),
            )
            for f in _LEX_FLAGS
        ],
    )
    stage1 = (
        flagged.groupBy("l_orderkey")
        .agg(
            F.bit_or("flag_mask").alias("_mask"),
            F.sum("qty_c_row").alias("qty_c"),
            F.sum("rev_c_row").alias("rev_c"),
            F.count(F.lit(1)).alias("n_items"),
            F.max("o_orderstatus").alias("o_orderstatus"),
        )
        .withColumn(
            "alert_flag",
            F.when(F.col("_mask") == 0, F.lit(None)).otherwise(decoded),
        )
    )
    # stage 2 fires only on the no-flag subset — here that is a column
    # predicate, not a join
    ppu_micro = F.expr("(rev_c * 2000000 + qty_c * 100) div (qty_c * 200)")
    comp_flag = F.when(
        F.col("alert_flag").isNull(),
        flag_concat(
            F.when((F.col("qty_c") > 0) & (ppu_micro > 1800 * 1000000), F.lit("8")),
            F.when(F.col("qty_c") > 3000 * F.col("n_items"), F.lit("9")),
            F.when(F.col("rev_c") > 600000000 * F.col("n_items"), F.lit("10")),
            F.when((F.col("n_items") >= 7) & (F.col("o_orderstatus") == "O"), F.lit("11")),
            sep=",",
        ),
    )
    return stage1.select(
        "l_orderkey", F.coalesce(F.col("alert_flag"), comp_flag).alias("alert_flag")
    )


SQL_FLAG_BATTERY_FULL = """
WITH bounds AS (
  SELECT p_brand,
         MIN(p_size) + 1 AS min_size_b,
         (MIN(p_size) + 3 * MAX(p_size)) // 4 AS max_size_b
  FROM part GROUP BY p_brand
),
row_flags AS (
  SELECT l.l_orderkey, t.flag
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN bounds b ON p.p_brand = b.p_brand,
  UNNEST(LIST_VALUE(
    CASE WHEN o.o_orderstatus = 'P' AND NULLIF(l.l_returnflag, 'N') IS NULL THEN '1' END,
    CASE WHEN NULLIF(l.l_returnflag, 'N') IS NOT NULL AND l.l_quantity <= 1 THEN '2' END,
    CASE WHEN p.p_size < b.min_size_b THEN '3' END,
    CASE WHEN p.p_size > b.max_size_b THEN '4' END,
    CASE WHEN l.l_quantity > 45 THEN '5' END,
    CASE WHEN l.l_discount > 0.09 THEN '6' END,
    CASE WHEN l.l_tax > 0.07 THEN '7' END,
    CASE WHEN l.l_quantity >= 50 THEN '12' END,
    CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 90 THEN '13' END
  )) AS t(flag)
),
stage1 AS (
  SELECT l_orderkey,
         NULLIF(array_to_string(list_sort(list_distinct(
           list(flag) FILTER (WHERE flag IS NOT NULL))), ','), '') AS alert_flag
  FROM row_flags GROUP BY l_orderkey
),
ind AS (
  SELECT l.l_orderkey,
         SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS qty_c,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS rev_c,
         COUNT(*) AS n_items,
         MAX(o.o_orderstatus) AS o_orderstatus
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_orderkey IN (SELECT l_orderkey FROM stage1 WHERE alert_flag IS NULL)
  GROUP BY l.l_orderkey
),
comp AS (
  SELECT l_orderkey,
         NULLIF(concat_ws(',',
           CASE WHEN qty_c > 0
                 AND (rev_c * 2000000 + qty_c * 100) // (qty_c * 200) > 1800000000 THEN '8' END,
           CASE WHEN qty_c > 3000 * n_items THEN '9' END,
           CASE WHEN rev_c > 600000000 * n_items THEN '10' END,
           CASE WHEN n_items >= 7 AND o_orderstatus = 'O' THEN '11' END), '') AS comp_flag
  FROM ind
)
SELECT s.l_orderkey,
       CASE WHEN s.alert_flag IS NOT NULL AND c.comp_flag IS NOT NULL
            THEN s.alert_flag || ',' || c.comp_flag
            ELSE COALESCE(s.alert_flag, c.comp_flag) END AS alert_flag
FROM stage1 s LEFT JOIN comp c ON s.l_orderkey = c.l_orderkey
"""


# ---------------------------------------------------------------------------
# Q: fuzzy name dedup (F1-F4) — pairwise Levenshtein over distinct
# supplier names, canonicalize each to the (shortest, alphabetically
# first) variant among its ≤2-distance neighborhood
# (R/preprocessing-surveys.R:1316-1374).


def q_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.fuzzy import blocked_levenshtein_pairs, canonicalize_names

    supplier = _t(spark, sf_dir, "supplier")
    names = supplier.select(F.col("s_name").alias("name")).distinct()
    # pair generation is a length-block equi-join, never a cross join —
    # see operators/fuzzy.py for the |Δlen| <= k blocking argument
    pairs = blocked_levenshtein_pairs(names, "name", max_dist=2)
    canon = canonicalize_names(pairs)
    return canon.filter(F.col("name") != F.col("canonical"))


SQL_FUZZY_DEDUP = """
WITH names AS (SELECT DISTINCT s_name AS name FROM supplier),
pairs AS (
  SELECT a.name AS name, b.name AS cand
  FROM names a CROSS JOIN names b
  WHERE levenshtein(a.name, b.name) <= 2
),
ranked AS (
  SELECT name, cand,
         ROW_NUMBER() OVER (PARTITION BY name ORDER BY LENGTH(cand), cand) AS rn
  FROM pairs
)
SELECT name, cand AS canonical FROM ranked WHERE rn = 1 AND name <> cand
"""


# ---------------------------------------------------------------------------
# Q: quantile coefficient modeling (A6/M2) — per-brand type-7 quantiles
# of retail price and size, the LW-coefficient aggregation
# (R/model-taxa.R:190-213).


def q_quantile_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.round(F.percentile(F.col("p_retailprice"), F.lit(0.6)), 6).alias("a_60"),
            F.round(F.percentile(F.col("p_size").cast("double"), F.lit(0.6)), 6).alias("b_60"),
            F.round(F.percentile(F.col("p_retailprice"), F.lit(0.95)), 6).alias("price_95"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("p_brand", "a_60", "b_60", "price_95", "n")
    )


SQL_QUANTILE_COEFFS = """
SELECT p_brand,
       ROUND(quantile_cont(p_retailprice, 0.6), 6) AS a_60,
       ROUND(quantile_cont(CAST(p_size AS DOUBLE), 0.6), 6) AS b_60,
       ROUND(quantile_cont(p_retailprice, 0.95), 6) AS price_95,
       COUNT(*) AS n
FROM part GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# Q: length-weight catch model (M1) — w = a·L^b with a special-case
# length correction (the octopus TL→ML L/5.5 rule), per-row output
# (R/preprocessing-surveys.R:691-734, R/model-taxa.R:73-116).


def q_lw_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # prime divisors keep a and b non-terminating so a·L^b never lands
    # exactly on a decimal rounding boundary (integer exponents + 2-decimal
    # prices produce exact .xxxxxx5 halves where engine rounding disagrees)
    coeffs = part.select(
        F.col("p_partkey").alias("l_partkey"),
        (F.col("p_retailprice") / 997.0).alias("a"),
        (F.lit(2.8) + (F.col("p_size") % 5) / 7.0).alias("b"),
        "p_type",
    )
    joined = lineitem.filter(F.col("l_shipdate") >= F.lit("2001-01-01")).join(
        F.broadcast(coeffs), "l_partkey"
    )
    length = F.when(
        F.col("p_type").startswith("SMALL"), F.col("l_quantity") / 5.5
    ).otherwise(F.col("l_quantity"))
    w_kg = F.col("a") * F.pow(length, F.col("b")) / 1000.0
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.round(w_kg, 6).alias("est_weight_kg"),
    )


SQL_LW_MODEL = """
SELECT l.l_orderkey, l.l_linenumber,
       ROUND((p.p_retailprice / 997.0)
             * POW(CASE WHEN p.p_type LIKE 'SMALL%' THEN l.l_quantity / 5.5
                        ELSE l.l_quantity END,
                   2.8 + (p.p_size % 5) / 7.0) / 1000.0, 6) AS est_weight_kg
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '2001-01-01'
"""


# ---------------------------------------------------------------------------
# Q: grouped last-row-wins dedup (A13) — latest order per customer
# (R/airtable.R:342-345,381-384).


def q_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    ordered = orders.withColumn(
        "_ord", F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    )
    latest = distinct_last_wins(ordered, ["o_custkey"], "_ord")
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").cast("date").alias("last_order_date"),
        "o_totalprice",
    )


SQL_LAST_WINS = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey AS last_orderkey,
       CAST(o_orderdate AS DATE) AS last_order_date, o_totalprice
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Q: event-time tumbling window stats (D2 at hour grain; batch analog of
# the streaming arrival-stats extension, SURVEY §7.3-11) — hourly counts
# and exact-decimal value sums per event type.


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select("hour", "event_type", "n_events", "total_value", "n_users")
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


# ---------------------------------------------------------------------------
# Q: per-user activity span (D3 duration-in-hours + safe divide M4) —
# trip-duration arithmetic (R/preprocessing-surveys.R:1192-1196).


def q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.max("ts")).alias("_mx"),
        F.unix_micros(F.min("ts")).alias("_mn"),
    )
    span_h = (F.col("_mx") - F.col("_mn")) / F.lit(3.6e9)
    rate = F.when(span_h > 0, F.col("n_events") / span_h)
    return per_user.select(
        "user_id",
        "n_events",
        F.round(span_h, 6).alias("span_hours"),
        F.round(rate, 6).alias("events_per_hour"),
    )


SQL_USER_ACTIVITY = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events,
         epoch_us(MAX(ts)) AS mx, epoch_us(MIN(ts)) AS mn
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       ROUND((mx - mn) / 3.6e9, 6) AS span_hours,
       ROUND(CASE WHEN (mx - mn) > 0 THEN n_events / ((mx - mn) / 3.6e9) END, 6)
         AS events_per_hour
FROM per_user
"""


# ---------------------------------------------------------------------------
# Q: JSON property extraction (S4/P18 family) — pull a typed value out
# of the events.props JSON string and aggregate it.  The reference
# flattens nested Kobo JSON at ingest (R/ingestion.R:149-218); this is
# the query-time flavor for semi-structured columns.


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("total_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .select("event_type", "n_with_k", "total_k", "min_k", "max_k")
    )


SQL_JSON_EXTRACT = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q: trip rollup (A1/A2 + M4 indicators) — survey trip totals analog:
# lineitem grouped by order with carry-along order attributes, then
# CPUE-style per-unit indicator.  R/preprocessing-surveys.R:773-786,
# R/validation.R:332-359, R/export.R:88-116.


def q_trip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    per_trip = lineitem.groupBy("l_orderkey").agg(
        F.sum(cents("l_quantity")).alias("qty_c"),
        F.sum(_revenue_cents()).alias("rev_c"),
        F.count(F.lit(1)).alias("n_items"),
    )
    carry = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_orderpriority",
    )
    out = per_trip.join(carry, "l_orderkey", "left")
    # price-per-unit indicator (M4 price/kg analog); Inf normalized to NULL.
    # Quantized to micro-units in pure BIGINT arithmetic (half-up via
    # integer division) so Spark and any ANSI-SQL engine produce the exact
    # same double: ratio = (rev_c/1e4)/(qty_c/1e2) = rev_c/(100*qty_c);
    # micro = floor(ratio*1e6 + 0.5) = (2e6*rev_c + 100*qty_c) div (200*qty_c).
    ppu_micro = F.expr(
        "CASE WHEN qty_c > 0 THEN (rev_c * 2000000 + qty_c * 100) div (qty_c * 200) END"
    )
    return out.select(
        "l_orderkey",
        (F.col("qty_c") / 100.0).alias("total_qty"),
        (F.col("rev_c") / 10000.0).alias("revenue"),
        "n_items",
        "order_date",
        "o_orderpriority",
        (ppu_micro / 1000000.0).alias("price_per_unit"),
    )


SQL_TRIP_ROLLUP = """
WITH per_trip AS (
  SELECT
    l_orderkey,
    SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c,
    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c,
    COUNT(*) AS n_items
  FROM lineitem GROUP BY l_orderkey
)
SELECT
  p.l_orderkey,
  p.qty_c / 100.0 AS total_qty,
  p.rev_c / 10000.0 AS revenue,
  p.n_items,
  CAST(o.o_orderdate AS DATE) AS order_date,
  o.o_orderpriority,
  (CASE WHEN p.qty_c > 0
        THEN (p.rev_c * 2000000 + p.qty_c * 100) // (p.qty_c * 200)
   END) / 1000000.0 AS price_per_unit
FROM per_trip p LEFT JOIN orders o ON p.l_orderkey = o.o_orderkey
"""


# ---------------------------------------------------------------------------
# Q: dimension enrichment chain (J1) — star joins lineitem→supplier→
# nation→region then aggregate.  R/preprocessing-surveys.R:974-1016.


def q_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    enriched = join_ops.enrich(
        lineitem.withColumn("rev_c", _revenue_cents()),
        [
            (supplier.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"), "l_suppkey"),
            (nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name", "n_regionkey"), "s_nationkey"),
            (region.select(F.col("r_regionkey").alias("n_regionkey"), "r_name"), "n_regionkey"),
        ],
    )
    return (
        enriched.groupBy("r_name", "l_returnflag")
        .agg(
            (F.sum("rev_c") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("r_name", "l_returnflag", "revenue", "n_rows")
    )


SQL_DIM_ENRICHMENT = """
SELECT
  r.r_name, l.l_returnflag,
  SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
  COUNT(*) AS n_rows
FROM lineitem l
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, l.l_returnflag
"""


# ---------------------------------------------------------------------------
# Q: monthly median with calendar densification (A3 + D2 + R7) — the
# flagship "monthly median CPUE by district" shape (R/export.R:568-602):
# month-truncate, exact median per (nation, month), then complete the
# month spine emitting NULL rows for missing months.


def q_monthly_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    facts = (
        orders.join(
            F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
            "c_nationkey",
        )
        .select(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
            "o_totalprice",
        )
    )
    monthly = facts.groupBy("n_name", "month").agg(
        _r6(F.percentile(F.col("o_totalprice"), F.lit(0.5))).alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    dense = reshape_ops.complete_months(
        monthly, ["n_name"], "month", fill={"n_orders": F.lit(0)}
    )
    return dense.select("n_name", "month", "median_price", "n_orders")


SQL_MONTHLY_MEDIAN = """
WITH facts AS (
  SELECT n.n_name,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
monthly AS (
  SELECT n_name, month,
         ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
         COUNT(*) AS n_orders
  FROM facts GROUP BY n_name, month
),
spine AS (
  SELECT CAST(unnest(generate_series(
           (SELECT MIN(month) FROM monthly),
           (SELECT MAX(month) FROM monthly),
           INTERVAL 1 MONTH)) AS DATE) AS month
),
dims AS (SELECT DISTINCT n_name FROM monthly)
SELECT d.n_name, s.month, m.median_price,
       COALESCE(m.n_orders, 0) AS n_orders
FROM dims d CROSS JOIN spine s
LEFT JOIN monthly m ON m.n_name = d.n_name AND m.month = s.month
"""


# ---------------------------------------------------------------------------
# Q: top-k with Other rollup (W1/W2) — top-3 brands per supplier nation
# by revenue, remainder bucketed as 'Other' and re-aggregated
# (R/export.R:636-693).


def q_topk_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    enriched = join_ops.enrich(
        lineitem.withColumn("rev_c", _revenue_cents()),
        [
            (part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"), "l_partkey"),
            (supplier.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"), "l_suppkey"),
            (nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name"), "s_nationkey"),
        ],
    )
    per_brand = enriched.groupBy("n_name", "p_brand").agg(
        F.sum("rev_c").alias("rev_c")
    )
    # ranking on the exact integer total — no float ties possible
    ranked = win_ops.rank_in_group(per_brand, ["n_name"], "rev_c", True, "_rk", ["p_brand"])
    bucketed = ranked.withColumn(
        "brand",
        F.when(F.col("_rk") <= 3, F.col("p_brand")).otherwise(F.lit("Other")),
    )
    return (
        bucketed.groupBy("n_name", "brand")
        .agg((F.sum("rev_c") / 10000.0).alias("revenue"))
        .select("n_name", "brand", "revenue")
    )


SQL_TOPK_OTHER = """
WITH per_brand AS (
  SELECT n.n_name, p.p_brand,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS rev_c
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, p.p_brand
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY rev_c DESC, p_brand) AS rk
  FROM per_brand
)
SELECT n_name,
       CASE WHEN rk <= 3 THEN p_brand ELSE 'Other' END AS brand,
       SUM(rev_c) / 10000.0 AS revenue
FROM ranked
GROUP BY n_name, CASE WHEN rk <= 3 THEN p_brand ELSE 'Other' END
"""


# ---------------------------------------------------------------------------
# Q: robust MAD outlier bounds (A7) — per-brand log-scale median±k·MAD
# bounds on extended price, the reference's main custom aggregate
# (R/validation-functions.R:43-69,108-132).


def q_robust_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = lineitem.join(
        F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
        "l_partkey",
    )
    bounds = agg_ops.robust_bounds(joined, ["p_brand"], "l_extendedprice", k=3.0)
    return bounds.select(
        "p_brand",
        _r6(F.col("lower_bound")).alias("lower_bound"),
        _r6(F.col("upper_bound")).alias("upper_bound"),
    )


SQL_ROBUST_BOUNDS = """
WITH x AS (
  SELECT p.p_brand, ln(l.l_extendedprice) AS lx
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_extendedprice > 0
),
med AS (
  SELECT p_brand, quantile_cont(lx, 0.5) AS med FROM x GROUP BY p_brand
),
stats AS (
  SELECT x.p_brand,
         ANY_VALUE(m.med) AS med,
         quantile_cont(ABS(x.lx - m.med), 0.5) AS mad
  FROM x JOIN med m ON x.p_brand = m.p_brand
  GROUP BY x.p_brand
)
SELECT p_brand,
       ROUND(CASE WHEN mad > 0 THEN exp(med - 3.0 * 1.4826 * mad) END, 6) AS lower_bound,
       ROUND(CASE WHEN mad > 0 THEN exp(med + 3.0 * 1.4826 * mad) END, 6) AS upper_bound
FROM stats
"""


# ---------------------------------------------------------------------------
# Q: unpivot to long metrics (R8) — quantity/price/discount stacked into
# (metric_type, metric_value) per order-line, then aggregated monthly:
# the reference's long "fishery metrics" normalization
# (R/preprocessing-surveys.R:795-804, R/export.R:201-205).


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    prepared = lineitem.select(
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("month"),
        cents("l_quantity").alias("quantity"),
        cents("l_extendedprice").alias("price"),
        cents("l_discount").alias("discount"),
    )
    long = reshape_ops.unpivot(
        prepared, ["month"], ["quantity", "price", "discount"],
        "metric_type", "metric_value",
    )
    return (
        long.groupBy("month", "metric_type")
        .agg(
            (F.sum("metric_value") / 100.0).alias("metric_total"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select("month", "metric_type", "metric_total", "n_values")
    )


SQL_UNPIVOT_METRICS = """
WITH long AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         metric_type, metric_value
  FROM (
    SELECT l_shipdate,
           CAST(round(l_quantity * 100) AS BIGINT) AS quantity,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
           CAST(round(l_discount * 100) AS BIGINT) AS discount
    FROM lineitem
  ) UNPIVOT (metric_value FOR metric_type IN (quantity, price, discount))
)
SELECT month, metric_type,
       SUM(metric_value) / 100.0 AS metric_total,
       COUNT(*) AS n_values
FROM long GROUP BY month, metric_type
"""


# ---------------------------------------------------------------------------
# Q: long→wide pivot (R2) — order counts per nation pivoted by order
# status (R/export.R:373-381 pivot_wider).


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
        "o_custkey",
    ).join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
        "c_nationkey",
    )
    statuses = ["F", "O", "P"]
    pivoted = (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
    )
    out = pivoted
    for s in statuses:
        out = out.withColumn(s, F.coalesce(F.col(s), F.lit(0)).cast("long"))
    return out.select("n_name", *[F.col(s).alias(f"status_{s}") for s in statuses])


SQL_PIVOT_STATUS = """
SELECT n.n_name,
       CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS BIGINT) AS status_F,
       CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'O') AS BIGINT) AS status_O,
       CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'P') AS BIGINT) AS status_P
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


# ---------------------------------------------------------------------------
# Q: semi/anti join (J6/J7) — customers partitioned into with/without
# recent orders (validation's flagged-id exclusion shape,
# R/validation.R:315-317,432-440).


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    recent = orders.filter(F.col("o_orderdate") >= F.lit("1999-01-01")).select(
        F.col("o_custkey").alias("c_custkey")
    )
    with_recent = join_ops.semi_join(customer, recent, "c_custkey").select(
        "c_custkey", "c_mktsegment", F.lit("active").alias("cohort")
    )
    without = join_ops.anti_join(customer, recent, "c_custkey").select(
        "c_custkey", "c_mktsegment", F.lit("inactive").alias("cohort")
    )
    both = with_recent.unionByName(without)
    return (
        both.groupBy("c_mktsegment", "cohort")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select("c_mktsegment", "cohort", "n_customers")
    )


SQL_SEMI_ANTI = """
WITH recent AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
),
cohorts AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey IN (SELECT o_custkey FROM recent)
              THEN 'active' ELSE 'inactive' END AS cohort
  FROM customer
)
SELECT c_mktsegment, cohort, COUNT(*) AS n_customers
FROM cohorts GROUP BY c_mktsegment, cohort
"""


# ---------------------------------------------------------------------------
# Q: TPC-H Q1 shape — the canonical pricing-summary report (grouped
# multi-aggregate with filters), exact decimal arithmetic throughout.


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    # integer units: cents for linear terms, cents·100 for disc_price,
    # cents·10000 for charge — all exact in BIGINT at harness scale
    charge_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount")) * (
        F.lit(100) + cents("l_tax")
    )
    filtered = lineitem.filter(F.col("l_shipdate") <= F.lit("2001-06-01"))
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(_revenue_cents()) / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_c) / 1000000.0).alias("sum_charge"),
            (F.sum(cents("l_quantity")) / 100.0 / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(cents("l_extendedprice")) / 100.0 / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "sum_charge",
            _r6(F.col("avg_qty")).alias("avg_qty"),
            _r6(F.col("avg_price")).alias("avg_price"),
            "count_order",
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
           * (100 + CAST(round(l_tax * 100) AS BIGINT))) / 1000000.0 AS sum_charge,
       ROUND(SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_qty,
       ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# exports

QUERIES = {
    "trip_rollup": q_trip_rollup,
    "dim_enrichment": q_dim_enrichment,
    "monthly_median": q_monthly_median,
    "topk_other": q_topk_other,
    "robust_bounds": q_robust_bounds,
    "unpivot_metrics": q_unpivot_metrics,
    "pivot_status": q_pivot_status,
    "semi_anti": q_semi_anti,
    "pricing_summary": q_pricing_summary,
    "nary_full_join": q_nary_full_join,
    "conditional_merge": q_conditional_merge,
    "flag_battery": q_flag_battery,
    "flag_battery_full": q_flag_battery_full,
    "fuzzy_dedup": q_fuzzy_dedup,
    "quantile_coeffs": q_quantile_coeffs,
    "lw_model": q_lw_model,
    "last_wins": q_last_wins,
    "events_hourly": q_events_hourly,
    "user_activity": q_user_activity,
    "json_extract": q_json_extract,
}


def oracle_sql() -> dict[str, str]:
    return {
        "trip_rollup": SQL_TRIP_ROLLUP,
        "dim_enrichment": SQL_DIM_ENRICHMENT,
        "monthly_median": SQL_MONTHLY_MEDIAN,
        "topk_other": SQL_TOPK_OTHER,
        "robust_bounds": SQL_ROBUST_BOUNDS,
        "unpivot_metrics": SQL_UNPIVOT_METRICS,
        "pivot_status": SQL_PIVOT_STATUS,
        "semi_anti": SQL_SEMI_ANTI,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "nary_full_join": SQL_NARY_FULL_JOIN,
        "conditional_merge": SQL_CONDITIONAL_MERGE,
        "flag_battery": SQL_FLAG_BATTERY,
        "flag_battery_full": SQL_FLAG_BATTERY_FULL,
        "fuzzy_dedup": SQL_FUZZY_DEDUP,
        "quantile_coeffs": SQL_QUANTILE_COEFFS,
        "lw_model": SQL_LW_MODEL,
        "last_wins": SQL_LAST_WINS,
        "events_hourly": SQL_EVENTS_HOURLY,
        "user_activity": SQL_USER_ACTIVITY,
        "json_extract": SQL_JSON_EXTRACT,
    }


UNIONS: dict[str, tuple[str, str]] = {}
