"""diversity_sample's budget and the registration of diversity_sample,
audio_audit, sketchfam_audit and video_audit."""

from __future__ import annotations

from conftest import assert_rows_registered, needs_testdata

from peskas_mozambique_data_pipeline_spark import (
    registry_audit,
    registry_curation,
    registry_web,
)

pytestmark = needs_testdata


def test_staged_r12_budget_is_binding(spark):
    """The literal budget must constrain the sample at every SF —
    otherwise the row degenerates to identity selection."""
    sf = "/root/testdata/sf0.001"
    out = registry_curation.q_diversity_sample(spark, sf)
    n = out.count()
    assert n == registry_curation._DIVERSITY_BUDGET


def test_staged_swap_landed_r12():
    assert_rows_registered(
        {
            "diversity_sample": registry_curation,
            "audio_audit": registry_web,
            "sketchfam_audit": registry_audit,
            "video_audit": registry_web,
        }
    )
