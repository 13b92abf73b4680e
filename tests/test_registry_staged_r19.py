"""DuckDB-oracle cases for the skew toolkit (``operators/skew.py``),
kept as test-local query rows (they hold no registry slot):

* ``skewjoin_audit`` — the deterministic salted join (``salted_join``).
  The big side is lineitem with an ANALYTIC hot key (every
  ``l_suppkey % 3 == 0`` row collapses onto key 0 — a third of the
  table on one key at every SF); the dim side is the distinct-key
  frame with an arithmetic attribute.  The output is aggregate-verified
  (per-group exact cent sums + counts), so the oracle — a PLAIN SQL
  join + groupBy — certifies that salting never changes the relation,
  only the shuffle.
* ``saltagg_audit`` — two-phase aggregation (``salted_agg``): orders
  fold onto an analytic hot key (half the table on one key), all four
  supported monoids (count / sum / max / min) in one pass, partials
  re-folded per key.  Oracle = the plain grouped aggregate.
"""

from __future__ import annotations

import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

pytestmark = needs_testdata

_S = "string"
_L = "long"
_N_SALTS = 8


def q_skewjoin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators.skew import salted_join
    from peskas_mozambique_data_pipeline_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem")
    sk = F.when(F.col("l_suppkey") % 3 == 0, F.lit(0)).otherwise(
        F.col("l_suppkey")
    )
    big = li.select(
        sk.cast(_L).alias("sk"),
        (F.round(F.col("l_extendedprice") * 100).cast(_L)
         * (F.lit(100) - F.round(F.col("l_discount") * 100).cast(_L))
         ).alias("rev_c"),
        F.round(F.col("l_quantity") * 100).cast(_L).alias("qty_c"),
    )
    dim = (
        big.select("sk").distinct().withColumn("grp", F.col("sk") % 25)
    )
    joined = salted_join(big, dim, on="sk", n_salts=_N_SALTS)
    return (
        joined.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("rev_c").alias("rev_c"),
            F.sum("qty_c").alias("qty_c"),
        )
        .select(
            F.col("grp").cast(_L).alias("grp"),
            F.col("n_rows").cast(_L).alias("n_rows"),
            (F.col("rev_c") / 10000.0).alias("revenue"),
            (F.col("qty_c") / 100.0).alias("total_qty"),
        )
    )


SQL_SKEWJOIN_AUDIT = """
WITH big AS (
  SELECT CASE WHEN l_suppkey % 3 = 0 THEN 0 ELSE l_suppkey END AS sk,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
  FROM lineitem
),
dim AS (SELECT DISTINCT sk, sk % 25 AS grp FROM big)
SELECT CAST(d.grp AS BIGINT) AS grp, COUNT(*) AS n_rows,
       SUM(b.rev_c) / 10000.0 AS revenue,
       SUM(b.qty_c) / 100.0 AS total_qty
FROM big b JOIN dim d ON b.sk = d.sk
GROUP BY d.grp
"""


def q_saltagg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators.skew import salted_agg
    from peskas_mozambique_data_pipeline_spark.session import read_table

    orders = read_table(spark, sf_dir, "orders")
    hot = F.when(F.col("o_custkey") % 2 == 0, F.lit("hot")).otherwise(
        F.concat(F.lit("c"), (F.col("o_custkey") % 11).cast(_S))
    )
    df = orders.select(
        hot.alias("hot"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast(_L).alias("cents"),
    )
    out = salted_agg(
        df,
        ["hot"],
        {
            "n": ("count", "okey"),
            "cents": ("sum", "cents"),
            "mx": ("max", "cents"),
            "mn": ("min", "cents"),
        },
        n_salts=_N_SALTS,
    )
    return out.select(
        F.col("hot").cast(_S).alias("hot"),
        F.col("n").cast(_L).alias("n"),
        F.col("cents").cast(_L).alias("cents"),
        F.col("mx").cast(_L).alias("mx"),
        F.col("mn").cast(_L).alias("mn"),
    )


SQL_SALTAGG_AUDIT = """
SELECT CASE WHEN o_custkey % 2 = 0 THEN 'hot'
            ELSE 'c' || CAST(o_custkey % 11 AS VARCHAR) END AS hot,
       COUNT(o_orderkey) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx,
       MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS mn
FROM orders
GROUP BY 1
"""


QUERIES = {"skewjoin_audit": q_skewjoin_audit, "saltagg_audit": q_saltagg_audit}
ORACLE_SQL = {"skewjoin_audit": SQL_SKEWJOIN_AUDIT, "saltagg_audit": SQL_SALTAGG_AUDIT}


@pytest.mark.parametrize("sf_dir", [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"])
@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.slow
def test_staged_r19_oracle_bit_exact(spark, name, sf_dir):
    assert_oracle_bit_exact(QUERIES[name](spark, sf_dir), ORACLE_SQL[name], sf_dir)


def test_staged_r19_skew_semantics(spark):
    """Non-degeneracy pins at sf0.001: the analytic hot keys really
    are hot (the salted paths get exercised under genuine skew), and
    the salted results equal their plain twins by direct comparison,
    not only through the oracle."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = q_skewjoin_audit(spark, sf).collect()
    by_grp = {r.grp: r.n_rows for r in rows}
    # key 0 (grp 0) holds ~a third of lineitem — dominant by far
    assert by_grp[0] > 3 * max(v for g, v in by_grp.items() if g != 0)
    agg = q_saltagg_audit(spark, sf).collect()
    hot = next(r for r in agg if r.hot == "hot")
    total = sum(r.n for r in agg)
    assert hot.n > total // 3  # ~half the orders on one key
    assert hot.mn <= hot.mx and hot.cents >= hot.mx
    # direct twin: salted agg == plain groupBy on the same frame
    from peskas_mozambique_data_pipeline_spark.session import read_table

    orders = read_table(spark, sf, "orders")
    hotc = F.when(F.col("o_custkey") % 2 == 0, F.lit("hot")).otherwise(
        F.concat(F.lit("c"), (F.col("o_custkey") % 11).cast("string"))
    )
    plain = {
        r.hot: (r.n, r.cents)
        for r in orders.select(
            hotc.alias("hot"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("hot")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("cents"))
        .collect()
    }
    assert {r.hot: (r.n, r.cents) for r in agg} == plain
