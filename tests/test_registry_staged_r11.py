"""Registration of governance_audit, neardup_audit, lexstats_audit,
ivf_audit, fetch_audit, html_extract, link_graph, crawl_audit and
image_dups."""

from __future__ import annotations

from conftest import assert_rows_registered, needs_testdata

from peskas_mozambique_data_pipeline_spark import registry_audit, registry_web

pytestmark = needs_testdata


def test_staged_swap_landed_r11():
    assert_rows_registered(
        {
            **dict.fromkeys(
                ("governance_audit", "neardup_audit", "lexstats_audit", "ivf_audit"),
                registry_audit,
            ),
            **dict.fromkeys(
                ("fetch_audit", "html_extract", "link_graph", "crawl_audit", "image_dups"),
                registry_web,
            ),
        },
        retired=("fetch_audit", "crawl_audit"),
    )
