"""main_content_audit and diff_audit semantics and the registration of
main_content_audit, diff_audit, bandpairs_audit and dedupfam_audit."""

from __future__ import annotations

from conftest import assert_rows_registered, needs_testdata

from peskas_mozambique_data_pipeline_spark import (
    registry_audit,
    registry_curation,
    registry_web,
)

pytestmark = needs_testdata


def test_staged_r14_prose_gate_is_exercised(spark):
    """Both branches of the one data-dependent decision (the prose
    min-chars gate) must occur at sf0.001, or the row degenerates."""
    out = registry_web.q_main_content_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()
    kept = [r for r in out if r.main_text]
    dropped = [r for r in out if not r.main_text]
    assert kept  # prose survives on real-length documents
    assert dropped  # 47..52-char texts fall under the 70-char gate
    for r in kept:  # chrome never leaks into the kept text
        assert "Navigation section" not in r.main_text
        assert "Footer farm" not in r.main_text
        assert "ok" != r.main_text


def test_staged_swap_landed_r14():
    assert_rows_registered(
        {
            "main_content_audit": registry_web,
            "diff_audit": registry_curation,
            "bandpairs_audit": registry_audit,
            "dedupfam_audit": registry_audit,
        }
    )


def test_staged_r14_diff_audit_all_statuses_present(spark):
    out = registry_curation.q_diff_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()
    statuses = {r.status for r in out}
    assert statuses == {"added", "removed", "changed"}
    # unchanged rows never leak into the diff: every changed id is a
    # mod-7 survivor, every removed id is mod-11
    for r in out:
        if r.status == "removed":
            assert r.doc_id % 11 == 0
        elif r.status == "changed":
            assert r.doc_id % 7 == 0 and r.doc_id % 11 != 0
        else:
            assert r.doc_id >= 1_000_000
