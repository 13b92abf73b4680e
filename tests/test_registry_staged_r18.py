"""DuckDB-oracle case for the re-identification-risk surface, kept as
a test-local query row (it holds no registry slot), plus the
semantics of the incremental-view-maintenance delta row whose oracle
case lives in tests/test_rollup_zone.py.

``privacy_audit`` covers ``operators/privacy.py`` (k-anonymity,
l-diversity, rare-group suppression).  The quasi-identifier is
ANALYTIC so both predicate sides are populated at every SF: customers
with ``c_custkey % 97 == 0`` get a UNIQUE qi (guaranteed singleton
classes → k-anonymity violations), everyone else lands in one of seven
``common_<custkey%7>`` classes (hundreds of members → safe).  Three
legs share one generic schema: the one-row k-anonymity report (k=3),
the per-class l-diversity report over ``c_mktsegment`` (l=3), and the
grouped survivors of ``suppress_rare_groups`` (count + exact custkey
sum per kept class).  The DuckDB twin replays class sizes, the
CASE-sum report, COUNT DISTINCT diversity, and the size-gated
semi-join in plain SQL.
"""

from __future__ import annotations

import duckdb
import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from test_rollup_zone import q_ivm_audit

pytestmark = needs_testdata

_S = "string"
_L = "long"
_K_ANON = 3
_L_DIV = 3


def _qi_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.session import read_table

    cust = read_table(spark, sf_dir, "customer")
    qi = F.when(
        F.col("c_custkey") % 97 == 0,
        F.concat(F.lit("rare_"), F.col("c_custkey").cast(_S)),
    ).otherwise(
        F.concat(F.lit("common_"), (F.col("c_custkey") % 7).cast(_S))
    )
    return cust.select(
        qi.alias("qi"),
        F.col("c_mktsegment").alias("sens"),
        F.col("c_custkey").alias("k"),
    )


def q_privacy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators import privacy as pv

    t = _qi_frame(spark, sf_dir).localCheckpoint()
    nulls = [F.lit(None).cast(_L).alias(c) for c in ("n5", "n6")]
    kanon = pv.k_anonymity_report(t, ["qi"], _K_ANON).select(
        F.lit("kanon").alias("leg"),
        F.lit(None).cast(_S).alias("k1"),
        F.col("k_threshold").cast(_L).alias("n1"),
        F.col("n_rows").cast(_L).alias("n2"),
        F.col("n_classes").cast(_L).alias("n3"),
        F.col("min_class_size").cast(_L).alias("n4"),
        F.col("n_risky_classes").cast(_L).alias("n5"),
        F.col("n_risky_rows").cast(_L).alias("n6"),
    )
    ldiv = pv.l_diversity_report(t, ["qi"], "sens", _L_DIV).select(
        F.lit("ldiv").alias("leg"),
        F.col("qi").cast(_S).alias("k1"),
        F.col("class_size").cast(_L).alias("n1"),
        F.col("diversity").cast(_L).alias("n2"),
        F.col("diverse").cast(_L).alias("n3"),
        F.lit(None).cast(_L).alias("n4"),
        *nulls,
    )
    sup = (
        pv.suppress_rare_groups(t, ["qi"], _K_ANON)
        .groupBy("qi")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("k").alias("sum_key"),
        )
        .select(
            F.lit("sup").alias("leg"),
            F.col("qi").cast(_S).alias("k1"),
            F.col("n_kept").cast(_L).alias("n1"),
            F.col("sum_key").cast(_L).alias("n2"),
            F.lit(None).cast(_L).alias("n3"),
            F.lit(None).cast(_L).alias("n4"),
            *nulls,
        )
    )
    return kanon.unionByName(ldiv).unionByName(sup)


SQL_PRIVACY_AUDIT = f"""
WITH t AS (
  SELECT CASE WHEN c_custkey % 97 = 0
              THEN 'rare_' || CAST(c_custkey AS VARCHAR)
              ELSE 'common_' || CAST(c_custkey % 7 AS VARCHAR) END AS qi,
         c_mktsegment AS sens, c_custkey AS k
  FROM customer
),
cs AS (SELECT qi, COUNT(*) AS class_size FROM t GROUP BY qi),
kanon AS (
  SELECT {_K_ANON} AS k_threshold, SUM(class_size) AS n_rows,
         COUNT(*) AS n_classes, MIN(class_size) AS min_class_size,
         SUM(CASE WHEN class_size < {_K_ANON} THEN 1 ELSE 0 END)
           AS n_risky_classes,
         SUM(CASE WHEN class_size < {_K_ANON} THEN class_size ELSE 0 END)
           AS n_risky_rows
  FROM cs
),
ldiv AS (
  SELECT qi, COUNT(*) AS class_size, COUNT(DISTINCT sens) AS diversity
  FROM t GROUP BY qi
),
sup AS (
  SELECT t.qi, COUNT(*) AS n_kept, SUM(t.k) AS sum_key
  FROM t JOIN cs ON t.qi = cs.qi
  WHERE cs.class_size >= {_K_ANON}
  GROUP BY t.qi
)
SELECT 'kanon' AS leg, CAST(NULL AS VARCHAR) AS k1,
       CAST(k_threshold AS BIGINT) AS n1, CAST(n_rows AS BIGINT) AS n2,
       CAST(n_classes AS BIGINT) AS n3,
       CAST(min_class_size AS BIGINT) AS n4,
       CAST(n_risky_classes AS BIGINT) AS n5,
       CAST(n_risky_rows AS BIGINT) AS n6
FROM kanon
UNION ALL
SELECT 'ldiv', qi, CAST(class_size AS BIGINT), CAST(diversity AS BIGINT),
       CAST(CASE WHEN diversity >= {_L_DIV} THEN 1 ELSE 0 END AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM ldiv
UNION ALL
SELECT 'sup', qi, CAST(n_kept AS BIGINT), CAST(sum_key AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM sup
"""


QUERIES = {"privacy_audit": q_privacy_audit}
ORACLE_SQL = {"privacy_audit": SQL_PRIVACY_AUDIT}


@pytest.mark.parametrize("sf_dir", [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"])
@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.slow
def test_staged_r18_oracle_bit_exact(spark, name, sf_dir):
    assert_oracle_bit_exact(QUERIES[name](spark, sf_dir), ORACLE_SQL[name], sf_dir)


def test_staged_r18_privacy_semantics(spark):
    """Non-degeneracy pins at sf0.001: risky singletons exist (the
    mod-97 rares), common classes are safe AND diverse, suppression
    keeps exactly the non-rare population."""
    sf = "/root/testdata/sf0.001"
    rows = q_privacy_audit(spark, sf).collect()
    kanon = next(r for r in rows if r.leg == "kanon")
    assert kanon.n4 == 1  # min class size: the singleton rares
    assert 0 < kanon.n5 < kanon.n3  # some risky classes, not all
    assert kanon.n6 == kanon.n5  # every risky class is a singleton
    ldiv = {r.k1: r for r in rows if r.leg == "ldiv"}
    rares = [r for k, r in ldiv.items() if k.startswith("rare_")]
    commons = [r for k, r in ldiv.items() if k.startswith("common_")]
    assert rares and commons and len(commons) == 7
    assert all(r.n2 == 1 and r.n3 == 0 for r in rares)
    assert all(r.n3 == 1 for r in commons)  # all five segments present
    sup = [r for r in rows if r.leg == "sup"]
    assert {r.k1 for r in sup} == {f"common_{i}" for i in range(7)}
    assert sum(r.n1 for r in sup) == kanon.n2 - kanon.n6


def test_staged_r18_ivm_semantics(spark):
    """The delta carries genuine retractions AND applications: every
    mktsegment group nets negative (old payloads retracted), every
    order-priority group nets positive (winners applied), and total
    count movement equals upsert winners minus touched state rows
    (python replay over DuckDB reads)."""
    sf = "/root/testdata/sf0.001"
    rows = q_ivm_audit(spark, sf).collect()
    segs = [r for r in rows if not r.grp[0].isdigit()]
    prios = [r for r in rows if r.grp[0].isdigit()]
    assert segs and prios
    assert all(r.n_rows < 0 and r.sum_cents < 0 for r in segs)
    assert all(r.n_rows > 0 and r.sum_cents > 0 for r in prios)
    con = duckdb.connect()
    n_winners, n_upserts = con.execute(
        f"""
        WITH ch AS (
          SELECT o_custkey AS k, o_orderkey AS seq,
                 CASE WHEN o_orderkey % 7 = 0 THEN 'delete'
                      ELSE 'upsert' END AS op
          FROM read_parquet('{sf}/orders.parquet')
          WHERE o_custkey % 5 <> 0
        ),
        win AS (
          SELECT * FROM (
            SELECT ch.*, ROW_NUMBER() OVER (
              PARTITION BY k ORDER BY seq DESC) AS rn
            FROM ch) WHERE rn = 1
        )
        SELECT COUNT(*),
               SUM(CASE WHEN op = 'upsert' THEN 1 ELSE 0 END)
        FROM win
        """
    ).fetchone()
    n_touched_state = con.execute(
        f"""
        SELECT COUNT(*) FROM read_parquet('{sf}/customer.parquet')
        WHERE c_custkey IN (
          SELECT DISTINCT o_custkey
          FROM read_parquet('{sf}/orders.parquet')
          WHERE o_custkey % 5 <> 0)
        """
    ).fetchone()[0]
    con.close()
    assert sum(r.n_rows for r in rows) == n_upserts - n_touched_state
    assert n_winners > n_upserts  # deletes present among winners
