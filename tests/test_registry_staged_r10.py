"""quant_audit leg parity and the registration of quant_audit,
seq_layout, contam_score, psl_domains and card_audit."""

from __future__ import annotations

from conftest import assert_rows_registered, needs_testdata

from peskas_mozambique_data_pipeline_spark import (
    registry,
    registry_audit,
    registry_curation,
    registry_text,
    registry_web,
)

pytestmark = needs_testdata


def test_quant_audit_parity_with_replaced_rows(spark):
    sf = "/root/testdata/sf0.001"
    staged = {
        (r["stat"], r["query_id"], r["neighbor_id"]): (r["rank"], r["score"])
        for r in registry_audit.q_quant_audit(spark, sf).collect()
    }
    # post-swap the replaced rows live in the retirement map
    a = registry.RETIRED_QUERIES["ann_int8"](spark, sf).collect()
    b = registry.RETIRED_QUERIES["pooled_ann"](spark, sf).collect()
    assert len(staged) == len(a) + len(b)
    for r in a:
        got = staged[("int8", r["query_id"], r["neighbor_id"])]
        assert got == (r["rank"], r["cosine_q8"])
    for r in b:
        got = staged[("pooled", r["query_id"], r["neighbor_id"])]
        assert got == (r["rank"], r["cosine_sim"])


def test_staged_swap_landed_r10():
    assert_rows_registered(
        {
            "quant_audit": registry_audit,
            "seq_layout": registry_curation,
            "contam_score": registry_text,
            "psl_domains": registry_web,
            "card_audit": registry_curation,
        }
    )
