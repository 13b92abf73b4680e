"""summary_audit leg parity, registration of summary_audit and
geo_assign, and geo_assign semantics."""

from __future__ import annotations


from conftest import assert_rows_registered

from peskas_mozambique_data_pipeline_spark import registry, registry_audit, registry_misc

SF = "/root/testdata/sf0.001"


def test_summary_audit_leg_parity(spark):
    union_rows = registry_audit.q_summary_audit(spark, SF)
    a = registry.RETIRED_QUERIES["pricing_summary"](spark, SF).collect()
    b = registry.RETIRED_QUERIES["rollup_summary"](spark, SF).collect()
    assert union_rows.count() == len(a) + len(b)
    pricing = {
        (r.k1, r.k2): (r.n, r.v1, r.v2, r.v3, r.v4, r.v5, r.v6)
        for r in union_rows.filter("stat = 'pricing'").collect()
    }
    for r in a:
        assert pricing[(r.l_returnflag, r.l_linestatus)] == (
            r.count_order, r.sum_qty, r.sum_base_price, r.sum_disc_price,
            r.sum_charge, r.avg_qty, r.avg_price,
        )
    rollup = {
        (r.k1, r.k2): (r.n, r.v1)
        for r in union_rows.filter("stat = 'rollup'").collect()
    }
    for r in b:
        assert rollup[(r.l_returnflag, r.l_linestatus)] == (r.n_rows, r.total_qty)


def test_r11_inround_swap_landed():
    assert_rows_registered(
        {"summary_audit": registry_audit, "geo_assign": registry_misc},
        retired=("geo_assign",),
    )


def test_geo_assign_semantics(spark):
    # sf0.01: 1500 points — enough to land in the thin triangle, the
    # hole and both MultiPolygon parts
    sf = "/root/testdata/sf0.01"
    out = registry_misc.q_geo_assign(spark, sf)
    rows = out.collect()
    n_points = spark.read.parquet(f"{sf}/customer.parquet").count()
    assert len(rows) == n_points  # non-overlapping regions: 1 row/point
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, 0)
        by_region[r.region] += 1
    # every fixture region catches some points, and gaps leave NULLs
    assert set(by_region) == {"north", "south_c", "east_tri", "isles", None}
    # the concave notch (the C's mouth): strictly inside its bbox but
    # outside the ring — every such point must be unassigned
    probe = [
        r for r in rows
        if 33.1 < r.lon < 37.9 and -22.9 < r.lat < -20.1
    ]
    assert probe and all(r.region is None for r in probe)
    # the hole in north: inside the exterior bbox, even crossing
    # parity — unassigned (the r12 ring-set upgrade)
    hole = [
        r for r in rows
        if 34.05 < r.lon < 35.95 and -14.95 < r.lat < -13.55
    ]
    assert hole and all(r.region is None for r in hole)
    # both MultiPolygon parts assign to the same region name
    west = [r for r in rows if 30.25 < r.lon < 32.15 and -17.35 < r.lat < -16.45]
    east = [r for r in rows if 38.65 < r.lon < 39.75 and -17.35 < r.lat < -16.45]
    assert west and east
    assert all(r.region == "isles" for r in west + east)
