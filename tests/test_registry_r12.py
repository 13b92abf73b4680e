"""weights_audit leg parity, registration of weights_audit and
kmv_audit, and kmv_audit semantics (both estimator branches)."""

from __future__ import annotations

from conftest import assert_rows_registered

from peskas_mozambique_data_pipeline_spark import registry, registry_audit, registry_curation

SF = "/root/testdata/sf0.001"


def test_weights_audit_leg_parity(spark):
    union_rows = registry_audit.q_weights_audit(spark, SF)
    a = registry.RETIRED_QUERIES["dsir_weights"](spark, SF).collect()
    b = registry.RETIRED_QUERIES["temperature_resample"](spark, SF).collect()
    assert union_rows.count() == len(a) + len(b)
    dsir = {
        r.k1: (r.n, r.v)
        for r in union_rows.filter("stat = 'dsir'").collect()
    }
    for r in a:
        assert dsir[str(r.doc_id)] == (r.n_tokens, r.dsir_weight)
    resample = {
        r.k1: (r.n, r.n2, r.v)
        for r in union_rows.filter("stat = 'resample'").collect()
    }
    for r in b:
        assert resample[r.source] == (r.n_docs, r.n_kept, r.frac_kept)


def test_r12_inround_swap_landed():
    assert_rows_registered(
        {"weights_audit": registry_audit, "kmv_audit": registry_curation}
    )


def test_kmv_audit_covers_both_estimator_branches(spark):
    out = registry_curation.q_kmv_audit(spark, SF).collect()
    k = registry_curation._KMV_K
    est = {(r.tbl, r.grp): r.est for r in out if r.stat == "est"}
    n_hashes = {}
    for r in out:
        if r.stat == "kmv":
            n_hashes[(r.tbl, r.grp)] = max(
                n_hashes.get((r.tbl, r.grp), 0), r.pos
            )
    # documents/source: 25 distinct texts per group — the n<k EXACT
    # branch, where the estimate IS the stored hash count
    doc_keys = [key for key in est if key[0] == "docs"]
    assert doc_keys
    for key in doc_keys:
        assert n_hashes[key] < k
        assert est[key] == float(n_hashes[key])
    # lineitem/returnflag: >k distinct order keys per group — the
    # unbiased (k-1)*2^60/h_k branch: sketch truncated at exactly k,
    # estimate well above k
    line_keys = [key for key in est if key[0] == "line"]
    assert line_keys
    for key in line_keys:
        assert n_hashes[key] == k
        assert est[key] > k
