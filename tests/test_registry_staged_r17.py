"""DuckDB-oracle cases for two operator families, kept as test-local
query rows (they hold no registry slot):

* ``dq_audit`` — the declarative data-quality expectations framework
  (``operators/expectations.py``: check / annotate / uniqueness /
  referential reports).  Four legs: ``report`` rows with the one-scan
  violation counts for three row-local rules over orders (genuine
  violations on BOTH sides at every SF, including the
  NULL-counts-as-violation semantics); the ``unique`` leg on o_custkey
  (every duplicated key's rows count); the ``referential`` leg against
  an analytic mod-3 subset of customer; and ``ann`` rows with the
  per-order failed-rule array, comma-joined in declaration order.
  Every quantity is an exact integer except ``frac`` = round(v/n, 6).
  The DuckDB twin replays each count with CASE arithmetic, the
  duplicate-key sum with a grouped HAVING, the anti-join with NOT IN
  over the same analytic dim, and the annotation with concat_ws (which
  skips the NULL branches exactly like array_join over array_compact).
* ``cdc_audit`` — ordered change-stream application
  (``operators/merge.py::apply_cdc``); see its section.
"""

from __future__ import annotations

import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

pytestmark = needs_testdata

_PRICE_HI = 150_000.0
_STATUSES = ("O", "F")
_PRIO = "1-%"


def _rules():
    from peskas_mozambique_data_pipeline_spark.operators.expectations import expect

    return [
        expect("price_hi", F.col("o_totalprice") > _PRICE_HI),
        expect("status_known", F.col("o_orderstatus").isin(*_STATUSES)),
        expect("prio_urgent", F.col("o_orderpriority").like(_PRIO)),
    ]


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators import expectations as dq
    from peskas_mozambique_data_pipeline_spark.session import read_table

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_custkey") % 3 != 0).select("c_custkey")
    report = dq.full_report(
        orders,
        rules=_rules(),
        unique_keys=[["o_custkey"]],
        dims=[("o_custkey", dim, "c_custkey")],
    ).select(
        F.lit("report").alias("leg"),
        F.col("rule").cast("string").alias("k1"),
        F.col("kind").cast("string").alias("k2"),
        F.col("n_violations").cast("long").alias("n1"),
        F.col("n_rows").cast("long").alias("n2"),
        F.col("frac").cast("double").alias("v"),
    )
    ann = dq.annotate(orders, _rules()).select(
        F.lit("ann").alias("leg"),
        F.col("o_orderkey").cast("string").alias("k1"),
        F.array_join("violations", ",").alias("k2"),
        F.lit(None).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    return report.unionByName(ann)


def _sql_dq_audit() -> str:
    fails = {
        "price_hi": f"NOT coalesce(o_totalprice > {_PRICE_HI!r}, FALSE)",
        "status_known": "NOT coalesce(o_orderstatus IN ('O', 'F'), FALSE)",
        "prio_urgent": f"NOT coalesce(o_orderpriority LIKE '{_PRIO}', FALSE)",
    }
    count_rows = " UNION ALL ".join(
        f"SELECT '{name}' AS rule, 'row' AS kind, "
        f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS v, COUNT(*) AS n "
        "FROM orders"
        for name, cond in fails.items()
    )
    ann_cases = ", ".join(
        f"CASE WHEN {cond} THEN '{name}' END" for name, cond in fails.items()
    )
    return f"""
WITH counts AS (
  {count_rows}
  UNION ALL
  SELECT 'unique(o_custkey)', 'unique',
         coalesce((SELECT SUM(c) FROM (
            SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey
            HAVING COUNT(*) > 1)), 0),
         COUNT(*)
  FROM orders
  UNION ALL
  SELECT 'in_dim(o_custkey)', 'referential',
         SUM(CASE WHEN o_custkey NOT IN (
            SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0)
            THEN 1 ELSE 0 END),
         COUNT(*)
  FROM orders
)
SELECT 'report' AS leg, CAST(rule AS VARCHAR) AS k1,
       CAST(kind AS VARCHAR) AS k2, CAST(v AS BIGINT) AS n1,
       CAST(n AS BIGINT) AS n2,
       CAST(CASE WHEN n > 0 THEN round(CAST(v AS DOUBLE) / n, 6)
                 ELSE 0.0 END AS DOUBLE) AS v
FROM counts
UNION ALL
SELECT 'ann', CAST(o_orderkey AS VARCHAR),
       concat_ws(',', {ann_cases}),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM orders
"""


SQL_DQ_AUDIT = _sql_dq_audit()


# ---------------------------------------------------------------------------
# cdc_audit — ordered change-stream application (``operators/merge.py::
# apply_cdc``) under the hard oracle.  Target = customers (exact
# integer balance cents); changes = an ANALYTIC CDC view of orders
# (key = o_custkey, seq = o_orderkey — unique, so (key, seq) satisfies
# the strict contract; every 7th order is a delete, the rest upserts
# carrying a synthesized name + the order's total in cents).  The
# final state puts every apply_cdc decision under the value hash:
# untouched target rows survive verbatim, the per-key HIGHEST-seq
# change wins, delete winners remove the key, upsert winners replace
# the payload.  The DuckDB twin replays the winner window
# (ROW_NUMBER over seq DESC), the untouched anti-join, and the upsert
# union — decision for decision; every quantity is an exact integer
# or string.  The strict guard (folded assert) runs live on the Spark
# side with uniqueness guaranteed by construction.


def q_cdc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators.merge import apply_cdc
    from peskas_mozambique_data_pipeline_spark.session import read_table

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    target = cust.select(
        "c_custkey",
        F.col("c_name").cast("string").alias("c_name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    # custkeys ≡ 0 (mod 5) receive NO changes, so the untouched-target
    # branch is populated at every SF alongside replace/delete/insert
    changes = orders.filter(F.col("o_custkey") % 5 != 0).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.concat(F.lit("u"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("bal_c"),
    )
    out = apply_cdc(target, changes, ["c_custkey"])
    return out.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_name").cast("string").alias("c_name"),
        F.col("bal_c").cast("long").alias("bal_c"),
    )


SQL_CDC_AUDIT = """
WITH t AS (
  SELECT c_custkey, CAST(c_name AS VARCHAR) AS c_name,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
),
ch AS (
  SELECT o_custkey AS c_custkey, o_orderkey AS seq,
         CASE WHEN o_orderkey % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         'u' || CAST(o_orderkey AS VARCHAR) AS c_name,
         CAST(round(o_totalprice * 100) AS BIGINT) AS bal_c
  FROM orders WHERE o_custkey % 5 <> 0
),
latest AS (
  SELECT * FROM (
    SELECT ch.*, ROW_NUMBER() OVER (
      PARTITION BY c_custkey ORDER BY seq DESC) AS rn
    FROM ch
  ) WHERE rn = 1
)
SELECT CAST(t.c_custkey AS BIGINT) AS c_custkey, t.c_name,
       CAST(t.bal_c AS BIGINT) AS bal_c
FROM t
WHERE t.c_custkey NOT IN (SELECT c_custkey FROM latest)
UNION ALL
SELECT CAST(c_custkey AS BIGINT), c_name, CAST(bal_c AS BIGINT)
FROM latest WHERE op = 'upsert'
"""


QUERIES = {"dq_audit": q_dq_audit, "cdc_audit": q_cdc_audit}
ORACLE_SQL = {"dq_audit": SQL_DQ_AUDIT, "cdc_audit": SQL_CDC_AUDIT}


@pytest.mark.parametrize("sf_dir", [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"])
@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.slow
def test_staged_r17_oracle_bit_exact(spark, name, sf_dir):
    assert_oracle_bit_exact(QUERIES[name](spark, sf_dir), ORACLE_SQL[name], sf_dir)


def test_staged_r17_dq_semantics(spark):
    """Non-degeneracy pins: every report rule has violations AND
    passes at sf0.001 (both predicate sides populated), the unique leg
    counts all copies of duplicated keys, the referential leg tracks
    the mod-3 dim, and the annotation leg carries multi-rule rows."""
    sf = "/root/testdata/sf0.001"
    rows = q_dq_audit(spark, sf).collect()
    rep = {r.k1: r for r in rows if r.leg == "report"}
    n = rep["price_hi"].n2
    for rule in ("price_hi", "status_known", "prio_urgent"):
        assert 0 < rep[rule].n1 < n, rule
    assert rep["unique(o_custkey)"].n1 > 0
    assert 0 < rep["in_dim(o_custkey)"].n1 < n
    ann = [r for r in rows if r.leg == "ann"]
    assert len(ann) == n
    multi = [r for r in ann if "," in (r.k2 or "")]
    clean = [r for r in ann if r.k2 == ""]
    assert multi and clean  # both extremes present


def test_staged_r17_cdc_semantics(spark):
    """Non-degeneracy pins for cdc_audit at sf0.001: untouched,
    replaced and deleted keys all present; the winner really is the
    highest-seq change (spot-checked against a python replay)."""
    sf = "/root/testdata/sf0.001"
    import duckdb

    state = {
        r.c_custkey: (r.c_name, r.bal_c)
        for r in q_cdc_audit(spark, sf).collect()
    }
    con = duckdb.connect()
    cust = con.execute(
        f"SELECT c_custkey, c_name, CAST(round(c_acctbal*100) AS BIGINT)"
        f" FROM read_parquet('{sf}/customer.parquet')"
    ).fetchall()
    orders = con.execute(
        f"SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)"
        f" FROM read_parquet('{sf}/orders.parquet')"
        f" WHERE o_custkey % 5 <> 0"
    ).fetchall()
    con.close()
    latest = {}
    for ck, ok, cents in orders:
        if ck not in latest or ok > latest[ck][0]:
            latest[ck] = (ok, cents)
    want = {}
    cust_keys = {ck for ck, _n, _c in cust}
    for ck, name, cents in cust:
        if ck not in latest:
            want[ck] = (name, cents)
    for ck, (ok, ocents) in latest.items():
        # upsert winners replace existing keys AND insert order-only
        # custkeys the synthetic data may carry; delete winners drop
        if ok % 7 != 0:
            want[ck] = (f"u{ok}", ocents)
    assert state == want
    untouched = sum(1 for ck in cust_keys if ck not in latest)
    deleted = sum(1 for ck in latest if latest[ck][0] % 7 == 0)
    inserts = sum(1 for ck in latest
                  if ck not in cust_keys and latest[ck][0] % 7 != 0)
    assert untouched > 0 and deleted > 0
    assert len(state) == len(want) >= untouched + inserts
