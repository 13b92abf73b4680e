"""Incrementally-maintained grouped rollup (streaming/rollup_zone.py):
stream ≡ batch groupBy over the final CDC state, group-move
retractions, restart idempotency, compaction, and the integral-measure
contract."""

from __future__ import annotations

import os

import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.streaming import (
    cdc_zone as cz,
    ingest as si,
    rollup_zone as rz,
)

SCHEMA = "k long, seq long, op string, grp string, cents long"


def _write(spark, landing, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("append").parquet(landing)
    return df.schema


def _run(spark, landing, zone, ck, schema, **kw):
    stream = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, d = rz.stream_rollup_zone(
        stream, zone, ck, ["k"], ["grp"], ["cents"], **kw
    )
    q.awaitTermination(120)
    return d


def _rollup(spark, zone):
    df = rz.read_rollup(spark, zone, ["grp"], ["cents"])
    return sorted((r.grp, r.n_rows, r.sum_cents) for r in df.collect())


def _from_state(spark, zone):
    """The non-incremental answer: groupBy over the resolved state."""
    state = cz.read_cdc_state(spark, zone, ["k"], strict=False)
    rows = state.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    ).collect()
    return sorted((r.grp, r.n_rows, r.sum_cents) for r in rows)


def test_rollup_matches_batch_groupby_over_state(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, [
        (1, 1, "upsert", "a", 10), (2, 2, "upsert", "b", 20),
    ])
    # key 1 moves group a -> b (retract from a, apply to b); key 2
    # replaced in place; key 3 inserted then deleted same batch
    _write(spark, landing, [
        (1, 3, "upsert", "b", 11), (2, 4, "upsert", "b", 25),
        (3, 5, "upsert", "a", 30), (3, 6, "delete", None, None),
    ])
    _write(spark, landing, [(4, 7, "upsert", "c", 40)])
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)
    got = _rollup(spark, zone)
    assert got == _from_state(spark, zone)
    assert got == [("b", 2, 36), ("c", 1, 40)]


def test_fully_retracted_group_disappears(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, [(1, 1, "upsert", "a", 5)])
    _write(spark, landing, [(1, 2, "delete", None, None)])
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)
    assert _rollup(spark, zone) == []
    # and re-insert after full retraction works
    _write(spark, landing, [(1, 3, "upsert", "a", 7)])
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)
    assert _rollup(spark, zone) == [("a", 1, 7)]


def test_restart_is_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, [
        (1, 1, "upsert", "a", 10), (2, 2, "upsert", "a", 20),
    ])
    _run(spark, landing, zone, ck, schema)
    first = _rollup(spark, zone)
    _run(spark, landing, zone, ck, schema)  # no new data
    assert _rollup(spark, zone) == first == [("a", 2, 30)]


@pytest.mark.slow
def test_compaction_preserves_rollup_and_bounds_dirs(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, [(1, 1, "upsert", "a", 10)])
    seq = 2
    for i in range(6):
        rows = [(10 + i, seq, "upsert", "g", 1),
                (10 + i, seq + 1, "delete", None, None)]
        seq += 2
        _write(spark, landing, rows)
    _run(spark, landing, zone, str(tmp_path / "ck"), schema,
         compact_every=3)
    assert _rollup(spark, zone) == _from_state(spark, zone) == [
        ("a", 1, 10)
    ]
    # both delta families bounded by the compaction cadence; the
    # zeroed 'g' group is absent from the rollup snapshot
    n_roll = len([d for d in os.listdir(os.path.join(zone, rz.ROLLUP_SUBDIR))
                  if d.startswith("batch=")])
    assert n_roll < 7
    comp = os.path.join(zone, rz.ROLLUP_COMPACT_SUBDIR)
    snap = spark.read.parquet(
        os.path.join(comp, sorted(os.listdir(comp))[-1])
    )
    assert snap.filter("grp = 'g'").count() == 0


def test_float_measure_rejected(spark, tmp_path):
    df = spark.createDataFrame(
        [], "k long, seq long, op string, grp string, x double"
    )
    with pytest.raises(TypeError, match="integral/decimal"):
        rz.stream_rollup_zone(
            df, str(tmp_path / "z"), str(tmp_path / "ck"),
            ["k"], ["grp"], ["x"],
        )


@pytest.mark.slow
def test_random_interleavings_congruent_with_state(spark, tmp_path):
    """Seeded pseudo-random batches (upserts, in-place replaces, group
    moves, deletes incl. of absent keys, re-inserts) — the folded
    rollup must equal the groupBy over the resolved CDC state after
    every such history (the IVM congruence), with compaction in the
    middle of the run."""
    import random

    rng = random.Random(20260817)
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = None
    seq = 0
    for _batch in range(12):
        rows = []
        used = set()
        for _ in range(rng.randint(1, 5)):
            k = rng.randint(0, 7)
            if k in used:
                continue
            used.add(k)
            seq += 1
            if rng.random() < 0.3:
                rows.append((k, seq, "delete", None, None))
            else:
                rows.append(
                    (k, seq, "upsert", rng.choice("abc"), rng.randint(1, 99))
                )
        if rows:
            schema = _write(spark, landing, rows)
    _run(spark, landing, zone, str(tmp_path / "ck"), schema,
         compact_every=5)
    assert _rollup(spark, zone) == _from_state(spark, zone)
    assert _rollup(spark, zone)  # non-degenerate: groups survive


# ---------------------------------------------------------------------------
# ivm_audit — the incremental-view-maintenance delta math
# (``rollup_zone._contribution_delta`` over ``cdc_zone._winners``, the
# retract/apply fold the rollup zone ships per micro-batch) against a
# DuckDB oracle.  State = customers keyed by custkey, grouped by
# ``c_mktsegment``, measured in exact acctbal cents; the change batch is
# an analytic view of orders (key ``o_custkey``, seq ``o_orderkey``,
# delete on mod-7) grouped by ``o_orderpriority``, so every winner MOVES
# its key across group domains and the delta carries genuine
# retractions (negative counts/sums in the mktsegment groups) AND
# applications (positive in the priority groups) at every SF.  The twin
# replays the winner window, the touched-key semi-join and the
# ±1-weighted group fold decision for decision; every quantity is an
# exact integer.

_S = "string"
_L = "long"


def q_ivm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_mozambique_data_pipeline_spark.session import read_table
    from peskas_mozambique_data_pipeline_spark.streaming.cdc_zone import _winners
    from peskas_mozambique_data_pipeline_spark.streaming.rollup_zone import _contribution_delta

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    state = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast(_L).alias("cents"),
    )
    ch = orders.filter(F.col("o_custkey") % 5 != 0).select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast(_L).alias("cents"),
    )
    win = _winners(ch, ["k"], "seq", "op", "upsert", "delete", strict=True)
    new = win.filter(F.col("op") == "upsert").select("grp", "cents")
    old = state.join(win.select("k"), "k", "left_semi").select(
        "grp", "cents"
    )
    delta = _contribution_delta(old, new, ["grp"], ["cents"])
    return delta.select(
        F.col("grp").cast(_S).alias("grp"),
        F.col("n_rows").cast(_L).alias("n_rows"),
        F.col("sum_cents").cast(_L).alias("sum_cents"),
    )


SQL_IVM_AUDIT = """
WITH state AS (
  SELECT c_custkey AS k, c_mktsegment AS grp,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
ch AS (
  SELECT o_custkey AS k, o_orderkey AS seq,
         CASE WHEN o_orderkey % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 5 <> 0
),
win AS (
  SELECT * FROM (
    SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM ch
  ) WHERE rn = 1
),
contrib AS (
  SELECT s.grp, -1 AS w, -s.cents AS cents
  FROM state s WHERE s.k IN (SELECT k FROM win)
  UNION ALL
  SELECT grp, 1, cents FROM win WHERE op = 'upsert'
)
SELECT CAST(grp AS VARCHAR) AS grp, CAST(SUM(w) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM contrib GROUP BY grp
"""


@needs_testdata
@pytest.mark.slow
@pytest.mark.parametrize("sf_dir", [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"])
def test_ivm_delta_duckdb_oracle(spark, sf_dir):
    assert_oracle_bit_exact(q_ivm_audit(spark, sf_dir), SQL_IVM_AUDIT, sf_dir)
