"""pca_cov, corpus_card and nearest_audit semantics and the
registration of pca_cov, audio_fp, corpus_card, docmeta_audit,
retrieval_audit, capsel_audit, nearest_audit and release_fold."""

from __future__ import annotations

import duckdb
from conftest import TESTDATA, assert_rows_registered, needs_testdata, oracle_duck

from peskas_mozambique_data_pipeline_spark import (
    registry_audit,
    registry_curation,
    registry_misc,
    registry_text,
    registry_web,
)

pytestmark = needs_testdata


def test_staged_r13_cell_count_is_triangle(spark):
    """d=64 → exactly d(d+1)/2 = 2080 upper-triangle cells."""
    out = registry_text.q_pca_cov(
        spark, "/root/testdata/sf0.001"
    )
    assert out.count() == 64 * 65 // 2


def test_staged_r13_corpus_card_retention_semantics(spark):
    """The card rows sit in DAG order and each permille is the exact
    floor of 1000·n_rows/prev_rows — verified against an independent
    python recompute of the zone chain."""
    rows = sorted(
        (r.pos, r.zone, r.n_rows, r.n_tokens, r.n_chars,
         r.retained_rows_permille)
        for r in registry_curation.q_corpus_card(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert [z for _p, z, *_ in rows] == [
        "corpus_ingested", "corpus_filtered", "corpus_deduped",
        "corpus_packs",
    ]
    con = oracle_duck(f"{TESTDATA}/sf0.001")
    try:
        n_all = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
        n_filt = con.execute(
            "SELECT COUNT(*) FROM documents WHERE length(text) >= 50"
        ).fetchone()[0]
        n_dedup = con.execute(
            "SELECT COUNT(*) FROM documents "
            "WHERE length(text) >= 50 AND doc_id % 7 <> 0"
        ).fetchone()[0]
        n_packs = con.execute(
            "SELECT COUNT(DISTINCT doc_id % 8) FROM documents "
            "WHERE length(text) >= 50 AND doc_id % 7 <> 0"
        ).fetchone()[0]
    finally:
        con.close()
    counts = [n_all, n_filt, n_dedup, n_packs]
    assert [n for _p, _z, n, *_ in rows] == counts
    assert rows[0][5] is None  # first zone has no predecessor
    for i in range(1, 4):
        assert rows[i][5] == counts[i] * 1000 // counts[i - 1]
    # packs are not document-shaped: token/char totals are NULL
    assert rows[3][3] is None and rows[3][4] is None


def test_staged_swap_landed_r13():
    assert_rows_registered(
        {
            "pca_cov": registry_text,
            "audio_fp": registry_web,
            "corpus_card": registry_curation,
            "docmeta_audit": registry_audit,
            "retrieval_audit": registry_audit,
            "capsel_audit": registry_audit,
            "nearest_audit": registry_misc,
            "release_fold": registry_curation,
        }
    )


def test_staged_r13_nearest_audit_margins():
    """Cross-engine safety of the trig row: replay the synthesis in
    pure python and check every candidate distance sits far from (a)
    the 400 km range gate, (b) the 3dp rounding-grid midpoint, and (c)
    that every per-point argmin gap is macroscopic — so last-ulp libm
    differences between Spark's and DuckDB's sin/cos/asin can never
    flip a decision (the boundary_audit discipline)."""
    import math

    con = duckdb.connect()
    keys = [
        k
        for sf in ("sf0.001", "sf0.01")
        for (k,) in con.execute(
            f"SELECT c_custkey FROM read_parquet('/root/testdata/{sf}/customer.parquet')"
        ).fetchall()
    ]
    con.close()
    sites = registry_misc.NEAREST_SITES
    rng = registry_misc._NEAREST_RANGE_M
    min_gate, min_round, min_gap = 1e18, 1e18, 1e18
    for k in keys:
        lon = 30.0 + (k * 37 % 1000) / 100.0
        lat = -26.0 + (k * 53 % 700) / 50.0
        ds = []
        for slon, slat in sites.values():
            a = (
                math.sin(math.radians(slat - lat) / 2) ** 2
                + math.cos(math.radians(lat))
                * math.cos(math.radians(slat))
                * math.sin(math.radians(slon - lon) / 2) ** 2
            )
            d = 2 * 6371008.8 * math.asin(math.sqrt(a))
            ds.append(d)
            min_gate = min(min_gate, abs(d - rng))
            frac = (d * 1000) % 1
            min_round = min(min_round, abs(frac - 0.5))
        in_range = sorted(d for d in ds if d <= rng)
        if len(in_range) >= 2:
            min_gap = min(min_gap, in_range[1] - in_range[0])
    # worst-case cross-engine libm drift on this chain is << 1e-6 m
    assert min_gate > 1e-3, min_gate
    assert min_round > 1e-6, min_round
    assert min_gap > 1e-3, min_gap
