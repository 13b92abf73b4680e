"""DuckDB-oracle cases for two operator families, kept as test-local
query rows (they hold no registry slot):

* ``hdr_audit`` — the mergeable-quantile sketch
  (``operators/sketches.py::hdr_histogram/hdr_quantiles``).  Two legs
  over lineitem's price in exact integer cents: every HDR bucket (id,
  lower bound, count — msb via ``length(bin)``, shift arithmetic only)
  and the p50/p95/p99 estimates (the exact integer lower bound of the
  first bucket whose cumulative count reaches ceil(q·n)).  The Spark
  side goes the long way around — per-RETURNFLAG histograms SUM-merged
  down to the global one (``hdr_merge``) — so the monoid claim is
  itself under the hash.  Integer arithmetic end to end; the quantile
  targets use exact dyadic q literals.
* ``kcore_audit`` — k-core peeling (``operators/graph.py::kcore``) on
  a ring-plus-chords graph with pendant paths.
"""

from __future__ import annotations

import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

pytestmark = needs_testdata

_L = "long"
_D = "double"
_HDR_SB = 5
_HDR_QS = (0.5, 0.95, 0.99)


def q_hdr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators import sketches as sk
    from peskas_mozambique_data_pipeline_spark.session import read_table

    line = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    # the long way: per-flag histograms -> SUM-merge to global (the
    # monoid must be lossless for the legs to hash-match the oracle's
    # direct global computation)
    per_flag = sk.hdr_histogram(line, "v", ["grp"], sub_bits=_HDR_SB)
    merged = sk.hdr_merge(per_flag)
    buckets = merged.select(
        F.lit("bucket").alias("stat"),
        F.col("bucket").cast(_L).alias("bucket"),
        F.col("lo").cast(_L).alias("lo"),
        F.col("n").cast(_L).alias("n"),
        F.lit(None).cast(_D).alias("quantile"),
    )
    qs = sk.hdr_quantiles(merged, list(_HDR_QS)).select(
        F.lit("q").alias("stat"),
        F.lit(None).cast(_L).alias("bucket"),
        F.col("estimate").cast(_L).alias("lo"),
        F.lit(None).cast(_L).alias("n"),
        F.col("quantile").cast(_D).alias("quantile"),
    )
    return buckets.unionByName(qs)


SQL_HDR_AUDIT = f"""
WITH v AS (
  SELECT CAST(l_extendedprice * 100 AS BIGINT) AS v FROM lineitem
  WHERE l_extendedprice IS NOT NULL
),
b AS (
  SELECT v, length(bin(v)) AS m,
         GREATEST(0, length(bin(v)) - {1 + _HDR_SB}) AS s
  FROM v WHERE v >= 0
),
hist AS (
  SELECT CASE WHEN v = 0 THEN 0
              ELSE m * {1 << (_HDR_SB + 1)} + (v >> s) END AS bucket,
         CASE WHEN v = 0 THEN 0 ELSE (v >> s) << s END AS lo,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY 1, 2
),
cum AS (
  SELECT bucket, lo, n,
         SUM(n) OVER (ORDER BY bucket) AS c,
         SUM(n) OVER () AS t
  FROM hist
),
qpick AS (
  SELECT q.q AS quantile, MIN(lo) AS est
  FROM cum, (SELECT UNNEST([0.5, 0.95, 0.99]) AS q) q
  WHERE c >= GREATEST(1, CEIL(q.q * t)) AND c - n < GREATEST(1, CEIL(q.q * t))
  GROUP BY q.q
)
SELECT 'bucket' AS stat, CAST(bucket AS BIGINT) AS bucket,
       CAST(lo AS BIGINT) AS lo, CAST(n AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS quantile
FROM hist
UNION ALL
SELECT 'q', CAST(NULL AS BIGINT), CAST(est AS BIGINT),
       CAST(NULL AS BIGINT), CAST(quantile AS DOUBLE)
FROM qpick
"""


# ---------------------------------------------------------------------------
# kcore_audit — the iterative k-core peel (``operators/graph.py::
# kcore``) under the hard oracle, the graph family's second iterative
# row (dedup_clusters' recursive reachability being the first).
#
# Graph: a DETERMINISTIC synthesis over the contiguous doc_id range
# (0..m−1 at every SF) whose peel depth is bounded BY CONSTRUCTION,
# independent of corpus size:
#   * ring  (i, (i+1) mod m)                — every node degree ≥ 2;
#   * chords (i, (i+7) mod m) for i%3 == 0  — degree spice;
#   * pendant 3-paths i—p1—p2—p3 (pj = i + j·10^6) for i%11 == 0 —
#     the peel driver: for k=2 they strip one hop per round (depth
#     exactly 3 + the empty probe round), at ANY scale factor.
# Legs: k=2 (core = ring + chords; pendants peel away) and k=5 (every
# node peels in round one — the empty-core branch).  The Spark side
# runs with ``max_iter=6``, so convergence within the oracle's SIX
# unrolled peel levels is enforced by a raise, not assumed; the
# DuckDB twin replays edge canonicalization (least/greatest +
# DISTINCT), per-level degree counts and survivor semi-filters level
# by level (the ivf_audit bounded-unroll precedent).  Every quantity
# is an exact integer — no float boundary anywhere.

_KCORE_LEVELS = 6


def _kcore_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i")
    )
    m = docs.agg(F.count(F.lit(1)).alias("m"))
    base = docs.crossJoin(F.broadcast(m))
    ring = base.select("i", ((F.col("i") + 1) % F.col("m")).alias("j"))
    chords = base.filter(F.col("i") % 3 == 0).select(
        "i", ((F.col("i") + 7) % F.col("m")).alias("j")
    )
    pend = docs.filter(F.col("i") % 11 == 0)
    p = [
        pend.select("i", (F.col("i") + 1_000_000).alias("j")),
        pend.select(
            (F.col("i") + 1_000_000).alias("i"),
            (F.col("i") + 2_000_000).alias("j"),
        ),
        pend.select(
            (F.col("i") + 2_000_000).alias("i"),
            (F.col("i") + 3_000_000).alias("j"),
        ),
    ]
    out = ring.unionByName(chords)
    for leg in p:
        out = out.unionByName(leg)
    return out


def q_kcore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators.graph import kcore

    edges = _kcore_edges(spark, sf_dir)
    parts = []
    for k in (2, 5):
        core = kcore(edges, k, a_col="i", b_col="j",
                     max_iter=_KCORE_LEVELS)
        parts.append(
            core.select(
                F.lit(f"k{k}").alias("stat"),
                F.col("n").cast("long").alias("n"),
                F.col("degree").cast("long").alias("degree"),
            )
        )
    return parts[0].unionByName(parts[1])


def _kcore_sql() -> str:
    edges = """
WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
mm AS (SELECT COUNT(*) AS m FROM docs),
raw AS (
  SELECT i, (i + 1) % m AS j FROM docs, mm
  UNION ALL
  SELECT i, (i + 7) % m FROM docs, mm WHERE i % 3 = 0
  UNION ALL
  SELECT i, i + 1000000 FROM docs WHERE i % 11 = 0
  UNION ALL
  SELECT i + 1000000, i + 2000000 FROM docs WHERE i % 11 = 0
  UNION ALL
  SELECT i + 2000000, i + 3000000 FROM docs WHERE i % 11 = 0
),
e_base AS MATERIALIZED (
  SELECT DISTINCT least(i, j) AS a, greatest(i, j) AS b
  FROM raw WHERE i <> j
)"""
    legs = []
    for k in (2, 5):
        lvl = [f"e_{k}_0 AS MATERIALIZED (SELECT a, b FROM e_base)"]
        for lv in range(_KCORE_LEVELS):
            lvl.append(
                f"""d_{k}_{lv} AS MATERIALIZED (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT a AS n FROM e_{k}_{lv} UNION ALL SELECT b FROM e_{k}_{lv}
  ) GROUP BY n
),
e_{k}_{lv + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e_{k}_{lv} e
  JOIN d_{k}_{lv} x ON e.a = x.n AND x.deg >= {k}
  JOIN d_{k}_{lv} y ON e.b = y.n AND y.deg >= {k}
)"""
            )
        lvl.append(
            f"""d_{k}_fin AS MATERIALIZED (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT a AS n FROM e_{k}_{_KCORE_LEVELS}
    UNION ALL SELECT b FROM e_{k}_{_KCORE_LEVELS}
  ) GROUP BY n
)"""
        )
        legs.append(",\n".join(lvl))
    return (
        edges
        + ",\n"
        + ",\n".join(legs)
        + f"""
SELECT 'k2' AS stat, CAST(n AS BIGINT) AS n, CAST(deg AS BIGINT) AS degree
FROM d_2_fin
UNION ALL
SELECT 'k5', CAST(n AS BIGINT), CAST(deg AS BIGINT)
FROM d_5_fin
"""
    )


SQL_KCORE_AUDIT = _kcore_sql()


QUERIES = {"hdr_audit": q_hdr_audit, "kcore_audit": q_kcore_audit}
ORACLE_SQL = {"hdr_audit": SQL_HDR_AUDIT, "kcore_audit": SQL_KCORE_AUDIT}


@pytest.mark.parametrize("sf_dir", [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"])
@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.slow
def test_staged_r16_oracle_bit_exact(spark, name, sf_dir):
    assert_oracle_bit_exact(QUERIES[name](spark, sf_dir), ORACLE_SQL[name], sf_dir)


def test_staged_r16_quantile_leg_is_nondegenerate(spark):
    """Three distinct quantile estimates with real spread (else the
    histogram degenerated into one bucket)."""
    out = q_hdr_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()
    qs = {r.quantile: r.lo for r in out if r.stat == "q"}
    assert set(qs) == {0.5, 0.95, 0.99}
    assert qs[0.5] < qs[0.95] <= qs[0.99]
    buckets = [r for r in out if r.stat == "bucket"]
    assert 20 < len(buckets) <= 64 * 64


def test_staged_r16_kcore_semantics(spark):
    """Structural pins for the kcore_audit fixture: the 2-core is
    exactly the ring+chords (every pendant-path node peeled, so no
    synthetic id ≥ 10^6 survives), the 5-core is empty, and Spark
    converges within the oracle's SIX unrolled peel levels (kcore runs
    with max_iter=6 and raises if unconverged — the parity tripwire)."""
    sf = "/root/testdata/sf0.001"
    rows = q_kcore_audit(
        spark, sf
    ).collect()
    k2 = {r.n: r.degree for r in rows if r.stat == "k2"}
    assert not [r for r in rows if r.stat == "k5"]  # empty-core branch
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert set(k2) == set(range(n_docs))  # ring survives, pendants don't
    assert all(d >= 2 for d in k2.values())
    # chord endpoints carry degree 3; plain ring nodes degree 2
    assert k2[0] == 3 and k2[1] == 2
