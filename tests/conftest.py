from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from peskas_mozambique_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[8] (when the host has the cores): every test was engineered
    # partition-count-invariant (the CPUS=3 / sf0.1 determinism matrices),
    # so extra cores only cut wall-time of the data-heavy parity tests.
    # shuffle_partitions stays 4 — tiny-data shuffles dominate the suite
    # and more reduce partitions would only add task overhead.
    cores = int(os.environ.get("SPARK_GRAFT_TEST_CORES", "0")) or min(
        8, os.cpu_count() or 4
    )
    extra = {}
    if os.environ.get("SPARK_GRAFT_TEST_AQE", "1") == "0":
        extra["spark.sql.adaptive.enabled"] = "false"
    s = get_spark(
        app_name="tests",
        master=f"local[{cores}]",
        shuffle_partitions=4,
        extra_conf=extra,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def rows(df, *cols):
    """Collect to a sorted list of tuples for order-insensitive compare."""
    if cols:
        df = df.select(*cols)
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# DuckDB-oracle comparison, the same normalize/compare rules as
# tools/check_correctness.py: column order and row order are ignored,
# floats must match exactly (NaN equals NaN), everything else compares
# by string form.

# The harness tables (TESTDATA.md), one directory per scale factor.
TESTDATA = "/root/testdata"
needs_testdata = pytest.mark.skipif(
    not os.path.exists(f"{TESTDATA}/sf0.001/documents.parquet"),
    reason="testdata not present",
)

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def oracle_norm(rows, cols):
    """Rows with columns in name order, sorted into a canonical order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def oracle_exact(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return fa == fb or (math.isnan(fa) and math.isnan(fb))
    return str(a) == str(b)


def oracle_duck(sf_dir):
    """A DuckDB connection with one view per harness table in sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def assert_oracle_bit_exact(sdf, sql, sf_dir):
    """The Spark frame equals the DuckDB oracle SQL's result bit for bit."""
    srows = oracle_norm([tuple(r) for r in sdf.collect()], sdf.columns)
    con = oracle_duck(sf_dir)
    try:
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = oracle_norm(res.fetchall(), dcols)
    finally:
        con.close()
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in dcols
    )
    assert len(srows) == len(drows), (len(srows), len(drows))
    for rs, rd in zip(srows, drows):
        assert len(rs) == len(rd)
        assert all(oracle_exact(a, b) for a, b in zip(rs, rd)), (rs, rd)


def assert_rows_registered(families, retired=()):
    """Each named row is registered (or, if named in ``retired``,
    retired into a union) as its family module's own function and SQL,
    and every leg of a union row has left the registry but stays
    importable by name."""
    from peskas_mozambique_data_pipeline_spark import registry

    for name, fam in families.items():
        if name in retired:
            fn = registry.RETIRED_QUERIES[name]
            sql = registry.RETIRED_ORACLE_SQL[name]
        else:
            fn, sql = registry.SPARK_QUERIES[name], registry.ORACLE_SQL[name]
        assert fn is fam.QUERIES[name]
        assert sql == fam.oracle_sql()[name]
        for leg in registry.UNIONS.get(name, ()):
            assert leg not in registry.SPARK_QUERIES
            assert leg in registry.RETIRED_QUERIES
            assert leg in registry.RETIRED_ORACLE_SQL
