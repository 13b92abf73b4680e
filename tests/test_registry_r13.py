"""Leg parity and registration of crawlfam_audit (fetch_audit +
crawl_audit) and geofam_audit (geo_assign + geo_rollup_join)."""

from __future__ import annotations

from conftest import assert_rows_registered

from peskas_mozambique_data_pipeline_spark import registry, registry_audit

SF = "/root/testdata/sf0.001"


def test_crawlfam_audit_leg_parity(spark):
    union_rows = registry_audit.q_crawlfam_audit(spark, SF)
    a = registry.RETIRED_QUERIES["fetch_audit"](spark, SF).collect()
    b = registry.RETIRED_QUERIES["crawl_audit"](spark, SF).collect()
    assert union_rows.count() == len(a) + len(b)
    fetch = {
        (r.k1, r.k2): r.n
        for r in union_rows.filter("stat = 'fetch'").collect()
    }
    for r in a:
        assert fetch[(str(r.doc_id), r.url)] == r.fetch_offset_ms
    crawl = {
        (r.stat, r.k1, r.k2, r.k3): r.p
        for r in union_rows.filter("stat <> 'fetch'").collect()
    }
    for r in b:
        assert crawl[(r.stat, r.k1, r.k2, r.k3)] == r.p


def test_geofam_audit_leg_parity(spark):
    union_rows = registry_audit.q_geofam_audit(spark, SF)
    a = registry.RETIRED_QUERIES["geo_assign"](spark, SF).collect()
    b = registry.RETIRED_QUERIES["geo_rollup_join"](spark, SF).collect()
    assert union_rows.count() == len(a) + len(b)
    assign = {
        r.id: (r.k1, r.x, r.y)
        for r in union_rows.filter("stat = 'assign'").collect()
    }
    for r in a:
        assert assign[r.pid] == (r.region, r.lon, r.lat)
    rollup = {
        r.k1: (r.k2, r.n, r.x)
        for r in union_rows.filter("stat = 'rollup'").collect()
    }
    for r in b:
        assert rollup[r.region] == (r.r_name, r.n_submissions, r.mean_acctbal)


def test_r13_inround_swap_landed():
    assert_rows_registered(
        {"crawlfam_audit": registry_audit, "geofam_audit": registry_audit}
    )
