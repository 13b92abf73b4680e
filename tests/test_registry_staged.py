"""Checks for the document-profile, document-signature and
funnel-cohort union rows, the train_shards row, and the two
augmentation legs of aug_audit:

1. oracle — each row's DuckDB twin matches the Spark plan bit-for-bit
   at sf0.001;
2. parity — each union row reproduces the exact values of its legs;
3. single-materialization — the chained document rows read the
   documents parquet ONCE.
"""

from __future__ import annotations

import pytest
from conftest import (
    assert_oracle_bit_exact,
    assert_rows_registered,
    needs_testdata,
    oracle_norm,
)

from peskas_mozambique_data_pipeline_spark import (
    registry,
    registry_audit,
    registry_curation,
)

SF_DIR = "/root/testdata/sf0.001"
ROWS = {
    "doc_profile": registry_audit,
    "doc_signature": registry_audit,
    "funnel_cohorts": registry_audit,
    "train_shards": registry_curation,
    "fim_audit": registry_audit,
    "span_audit": registry_audit,
}

pytestmark = needs_testdata


@pytest.mark.parametrize("name", sorted(ROWS))
def test_staged_oracle_bit_exact(spark, name):
    fam = ROWS[name]
    sdf = fam.QUERIES[name](spark, SF_DIR)
    assert_oracle_bit_exact(sdf, fam.oracle_sql()[name], SF_DIR)


def _replaced_pair(spark, name):
    """The two legs of a union row, retired but importable by name."""
    a_name, b_name = registry.UNIONS[name]
    a = registry.RETIRED_QUERIES[a_name](spark, SF_DIR)
    b = registry.RETIRED_QUERIES[b_name](spark, SF_DIR)
    return a, b


def test_doc_profile_parity(spark):
    staged = registry_audit.q_doc_profile(spark, SF_DIR)
    quality, lang = _replaced_pair(spark, "doc_profile")
    joined = quality.join(lang, "doc_id").select(*staged.columns)
    assert oracle_norm(
        [tuple(r) for r in staged.collect()], staged.columns
    ) == oracle_norm([tuple(r) for r in joined.collect()], joined.columns)


def test_doc_signature_parity(spark):
    staged = registry_audit.q_doc_signature(spark, SF_DIR)
    kmin, winnow = _replaced_pair(spark, "doc_signature")
    joined = kmin.join(winnow, "doc_id").select(*staged.columns)
    assert oracle_norm(
        [tuple(r) for r in staged.collect()], staged.columns
    ) == oracle_norm([tuple(r) for r in joined.collect()], joined.columns)


def test_funnel_cohorts_parity(spark):
    staged = registry_audit.q_funnel_cohorts(spark, SF_DIR).collect()
    funnel, cohorts = _replaced_pair(spark, "funnel_cohorts")
    f = {(r["stage_idx"], r["stage"]): r for r in funnel.collect()}
    got_f = {
        (r["k1"], r["stage"]): r for r in staged if r["stat"] == "funnel"
    }
    assert set(f) == set(got_f)
    for k, r in f.items():
        assert got_f[k]["n"] == r["n_users"]
        assert got_f[k]["ratio"] == r["pct_of_first"]
        assert got_f[k]["k2"] is None
    c = {
        (r["cohort_period"], r["periods_since"]): r["n_active"]
        for r in cohorts.collect()
    }
    got_c = {
        (r["k1"], r["k2"]): r["n"] for r in staged if r["stat"] == "cohort"
    }
    assert c == got_c
    assert all(
        r["stage"] is None and r["ratio"] is None
        for r in staged
        if r["stat"] == "cohort"
    )


@pytest.mark.parametrize("name", ["doc_profile", "doc_signature"])
def test_staged_doc_rows_scan_once(spark, name):
    plan = (
        registry_audit.QUERIES[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_staged_swap_landed_r9():
    assert_rows_registered(
        ROWS, retired=("doc_profile", "doc_signature", "fim_audit", "span_audit")
    )


def test_train_shards_registered_and_invariants(spark):
    st = registry_curation
    assert registry.SPARK_QUERIES["train_shards"] is st.QUERIES["train_shards"]
    out = st.q_train_shards(spark, SF_DIR).collect()
    budget = st._SHARD_TOKENS
    # shards are contiguous in training order and cut at the token
    # budget: a doc starts a new shard iff cum-before crossed the line
    by_pos = sorted(out, key=lambda r: r["shuffle_pos"])
    cum = 0
    for r in by_pos:
        assert r["shard_id"] == cum // budget
        cum += r["n_tok"]
    shard_ids = [r["shard_id"] for r in by_pos]
    assert shard_ids == sorted(shard_ids)  # monotone along the order
