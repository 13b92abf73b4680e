"""DuckDB-oracle cases for two operator families, kept as test-local
query rows (they hold no registry slot):

* ``bloom_audit`` — the Bloom-filter membership family
  (``operators/sketches.py::bloom_bits/bloom_pack/bloom_merge/
  bloom_probe/bloom_occupancy``).  The scale story is benchmark
  decontamination: build the filter over the small member set
  (documents with ``doc_id % 17 = 0``), broadcast the packed words,
  probe the full corpus MAP-SIDE with no join shuffle.  The Spark side
  goes the long way around — per-SOURCE set-bit builds, per-source
  packs, an OR-merge down to one global filter, then the packed-word
  probe — while the oracle states the set-bit table and the probe
  verdicts directly from the md5 position arithmetic, so the
  pack/merge/probe machinery must REDISCOVER the analytic truth.
  Geometry m=512, k=3 keeps the probe leg non-degenerate in BOTH
  directions at every SF (false positives and true negatives both
  occur); every decision is exact 60-bit md5 integer arithmetic mod
  512, and the occupancy estimate (bits_set/512)^3 is an exact dyadic
  ratio cubed by two correctly-rounded multiplies (no libm pow).
* ``zorder_audit`` — the Z-order layout family
  (``operators/layout.py::zorder_key/zorder_index``): every Morton key
  over (l_partkey, l_suppkey) plus the 64-range skipping index
  (per-range counts and per-dimension min/max).  Integer arithmetic end
  to end, so the row is bit-exact with zero float boundary.
"""

from __future__ import annotations

import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

pytestmark = needs_testdata

_L = "long"
_D = "double"
_BLOOM_M = 512
_BLOOM_K = 3


def q_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators import sketches as sk
    from peskas_mozambique_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    # the long way: per-source builds -> packs -> one OR-merge; the
    # semilattice makes this bit-identical to a single global build
    per_src = sk.bloom_pack(
        sk.bloom_bits(
            bench, "text", group_cols=["source"], m=_BLOOM_M, k=_BLOOM_K
        ),
        group_cols=["source"],
        m=_BLOOM_M,
        k=_BLOOM_K,
    )
    merged = sk.bloom_merge(per_src)
    # unpack the merged words back into bit positions (bit j of word w
    # is set iff (word >> j) & 1 = 1) — the oracle states this table
    # directly from the md5 arithmetic, so the pack/merge round trip
    # must be lossless for the leg to hash-match
    words = merged.select(F.posexplode("bloom").alias("_w", "_word"))
    bit_rows = words.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 63),"
                " j -> IF(((_word >> j) & 1) = 1, _w * 64 + j, NULL)),"
                " x -> x IS NOT NULL)"
            )
        ).alias("bit")
    )
    bits = bit_rows.select(
        F.lit("bit").alias("stat"),
        F.lit(None).cast(_L).alias("doc_id"),
        F.col("bit").cast(_L).alias("bv"),
        F.lit(None).cast(_D).alias("est"),
    )
    probe = sk.bloom_probe(
        docs, "text", merged, k=_BLOOM_K
    ).select(
        F.lit("probe").alias("stat"),
        F.col("doc_id").cast(_L).alias("doc_id"),
        F.col("maybe_member").cast(_L).alias("bv"),
        F.lit(None).cast(_D).alias("est"),
    )
    occ = sk.bloom_occupancy(merged, k=_BLOOM_K).select(
        F.lit("occ").alias("stat"),
        F.lit(None).cast(_L).alias("doc_id"),
        F.col("bloom_bits_set").cast(_L).alias("bv"),
        F.col("bloom_fpp").cast(_D).alias("est"),
    )
    return bits.unionByName(probe).unionByName(occ)


SQL_BLOOM_AUDIT = f"""
WITH bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5('bloom' || g.i || '_' || d.text), 1, 15))::BIGINT
           % {_BLOOM_M} AS bit
  FROM documents d
  CROSS JOIN (SELECT UNNEST(range({_BLOOM_K})) AS i) g
  WHERE d.doc_id % 17 = 0 AND d.text IS NOT NULL
),
probe AS (
  SELECT d.doc_id,
         MIN(CASE WHEN ('0x' || substr(md5('bloom' || g.i || '_' || d.text),
                                       1, 15))::BIGINT % {_BLOOM_M}
                       IN (SELECT bit FROM bits)
                  THEN 1 ELSE 0 END) AS mm
  FROM documents d
  CROSS JOIN (SELECT UNNEST(range({_BLOOM_K})) AS i) g
  GROUP BY d.doc_id
),
occ AS (SELECT COUNT(*) AS n FROM bits)
SELECT 'bit' AS stat, CAST(NULL AS BIGINT) AS doc_id,
       CAST(bit AS BIGINT) AS bv, CAST(NULL AS DOUBLE) AS est
FROM bits
UNION ALL
SELECT 'probe', CAST(doc_id AS BIGINT), CAST(mm AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM probe
UNION ALL
SELECT 'occ', CAST(NULL AS BIGINT), CAST(n AS BIGINT),
       round((CAST(n AS DOUBLE) / {_BLOOM_M})
             * (CAST(n AS DOUBLE) / {_BLOOM_M})
             * (CAST(n AS DOUBLE) / {_BLOOM_M}), 6)
FROM occ
"""


# ---------------------------------------------------------------------------
# zorder_audit — the Z-order layout family (operators/layout.py) under
# the hard oracle.  Two legs: every row's Morton key over
# (l_partkey, l_suppkey) at 8 bits/dim (exact BIGINT affine bins over
# the global min/max, DIV integer division, shift/mask interleave),
# and the 64-range skipping index (key >> 10 buckets with per-range
# row counts and per-dimension min/max — the footer stats a pruning
# engine consults).  Everything is integer arithmetic end to end; the
# oracle replays bin, interleave, and bucket stats from the same
# min/max scalars.

_Z_BITS = 8
_Z_BUCKET_BITS = 6  # shift = 2*8 - 6 = 10


def q_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.operators import layout
    from peskas_mozambique_data_pipeline_spark.session import read_table

    line = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    cols = ["l_partkey", "l_suppkey"]
    keyed = layout.zorder_key(line, cols, bits=_Z_BITS)
    key_leg = keyed.select(
        F.lit("key").alias("stat"),
        F.col("l_orderkey").cast(_L).alias("k1"),
        F.col("l_linenumber").cast(_L).alias("k2"),
        F.col("zkey").cast(_L).alias("v1"),
        F.lit(None).cast(_L).alias("v2"),
        F.lit(None).cast(_L).alias("v3"),
        F.lit(None).cast(_L).alias("v4"),
        F.lit(None).cast(_L).alias("v5"),
    )
    idx = layout.zorder_index(
        keyed, cols, bits=_Z_BITS, bucket_bits=_Z_BUCKET_BITS
    )
    idx_leg = idx.select(
        F.lit("idx").alias("stat"),
        F.col("bucket").cast(_L).alias("k1"),
        F.lit(None).cast(_L).alias("k2"),
        F.col("n_rows").cast(_L).alias("v1"),
        F.col("min_l_partkey").cast(_L).alias("v2"),
        F.col("max_l_partkey").cast(_L).alias("v3"),
        F.col("min_l_suppkey").cast(_L).alias("v4"),
        F.col("max_l_suppkey").cast(_L).alias("v5"),
    )
    return key_leg.unionByName(idx_leg)


SQL_ZORDER_AUDIT = f"""
WITH s AS (
  SELECT MIN(l_partkey) AS lo1, MAX(l_partkey) AS hi1,
         MIN(l_suppkey) AS lo2, MAX(l_suppkey) AS hi2
  FROM lineitem
),
b AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         (l_partkey - lo1) * {1 << _Z_BITS} // (hi1 - lo1 + 1) AS b1,
         (l_suppkey - lo2) * {1 << _Z_BITS} // (hi2 - lo2 + 1) AS b2
  FROM lineitem, s
),
keyed AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         (SELECT SUM((((b1 >> CAST(j AS INT)) & 1) << CAST(2*j AS INT))
                   + (((b2 >> CAST(j AS INT)) & 1) << CAST(2*j+1 AS INT)))
          FROM range({_Z_BITS}) t(j)) AS zkey
  FROM b
)
SELECT 'key' AS stat, CAST(l_orderkey AS BIGINT) AS k1,
       CAST(l_linenumber AS BIGINT) AS k2, CAST(zkey AS BIGINT) AS v1,
       CAST(NULL AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3,
       CAST(NULL AS BIGINT) AS v4, CAST(NULL AS BIGINT) AS v5
FROM keyed
UNION ALL
SELECT 'idx', CAST(zkey >> {2 * _Z_BITS - _Z_BUCKET_BITS} AS BIGINT),
       CAST(NULL AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(MIN(l_partkey) AS BIGINT), CAST(MAX(l_partkey) AS BIGINT),
       CAST(MIN(l_suppkey) AS BIGINT), CAST(MAX(l_suppkey) AS BIGINT)
FROM keyed
GROUP BY zkey >> {2 * _Z_BITS - _Z_BUCKET_BITS}
"""


QUERIES = {"bloom_audit": q_bloom_audit, "zorder_audit": q_zorder_audit}
ORACLE_SQL = {"bloom_audit": SQL_BLOOM_AUDIT, "zorder_audit": SQL_ZORDER_AUDIT}


@pytest.mark.parametrize("sf_dir", [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"])
@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.slow
def test_staged_r15_oracle_bit_exact(spark, name, sf_dir):
    assert_oracle_bit_exact(QUERIES[name](spark, sf_dir), ORACLE_SQL[name], sf_dir)


def test_staged_r15_bloom_probe_leg_is_nondegenerate(spark):
    """The probe leg must show false positives AND true negatives at
    sf0.001 (members always probe true by construction), or the
    approximate operator degenerates into an exact membership join."""
    out = q_bloom_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()
    probes = {r.doc_id: r.bv for r in out if r.stat == "probe"}
    members = {d for d in probes if d % 17 == 0}
    assert all(probes[d] == 1 for d in members)  # no false negatives
    non = {d: v for d, v in probes.items() if d % 17 != 0}
    assert any(v == 1 for v in non.values())  # deterministic FPs exist
    assert any(v == 0 for v in non.values())  # and true negatives too
    n_bits = [r.bv for r in out if r.stat == "occ"]
    assert len(n_bits) == 1 and 0 < n_bits[0] <= 512


def test_staged_r15_zorder_index_leg_shows_locality(spark):
    """The idx leg must demonstrate the property the family exists
    for: many populated key ranges whose per-dimension spans are far
    below the global span (else the interleave degenerated)."""
    out = q_zorder_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()
    idx = [r for r in out if r.stat == "idx"]
    assert len(idx) > 16
    glob_p = max(r.v3 for r in idx) - min(r.v2 for r in idx)
    avg_span_p = sum(r.v3 - r.v2 for r in idx) / len(idx)
    assert avg_span_p < glob_p / 2
