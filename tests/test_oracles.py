"""Driver-contract guards (no Spark): every query has an oracle, every
oracle parses in DuckDB against the registered views, and the render
oracles' goldens parquet is present and well-formed."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

duckdb = pytest.importorskip("duckdb")

SF_DIR = "/root/testdata/sf0.001"
GOLDENS = REPO / "goldens" / "render_goldens.parquet"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_every_query_has_an_oracle():
    import __spark_entry__ as m

    gated = set(m.queries())
    extra = set(m.extra_queries())
    assert not gated & extra, "a query must be gated OR extra, not both"
    assert gated | extra == set(m.oracle_sql())


def test_queries_fit_the_driver_gate():
    """The driver's correctness gate records only the FIRST 50 queries()
    entries (observed cap: CORRECTNESS_r04 recorded exactly 50 of 55 and the
    tail silently lost verification).  Everything registered must be driver-
    verified, so the gated registry must fit; overflow goes in
    extra_queries() which scripts/check_oracles.py still verifies locally."""
    import __spark_entry__ as m

    assert len(m.queries()) <= 50


def test_every_oracle_parses_and_plans(con):
    import __spark_entry__ as m

    for name, sql in m.oracle_sql().items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover - failure reporting
            raise AssertionError(f"oracle for {name!r} failed to plan: {e}")


def test_render_goldens_parquet_wellformed(con):
    rel = con.sql(
        "SELECT count(*) AS n, count(DISTINCT doc_key) AS k,"
        " sum(CASE WHEN error IS NULL THEN 0 ELSE 1 END) AS errs"
        f" FROM read_parquet('{GOLDENS}')"
    ).fetchone()
    n, k, errs = rel
    assert n >= 6000 and k == n
    assert errs == 0
    # every sf0.001 document is covered by a golden
    (missing,) = con.sql(
        "SELECT count(*) FROM documents d WHERE NOT EXISTS ("
        f"  SELECT 1 FROM read_parquet('{GOLDENS}') g"
        "  WHERE g.doc_key = md5(CAST(d.doc_id AS VARCHAR) || '|' || d.source"
        "        || '|' || d.lang || '|' || d.text))"
    ).fetchone()
    assert missing == 0


def test_oracle_output_types_have_spark_equivalents(con):
    """DuckDB widens integer sum() to HUGEINT (INT128), which has no Spark
    equivalent and breaks the driver's type-sensitive value hash (this bit
    rounds 1 AND 2: user_sessions, render_error_counts).  Guard: no final
    oracle column may be HUGEINT/UHUGEINT/DECIMAL — wrap the aggregate in
    CAST(... AS BIGINT) / CAST(... AS DOUBLE) in the oracle SQL instead."""
    import __spark_entry__ as m

    banned_prefixes = ("HUGEINT", "UHUGEINT", "DECIMAL", "UINTEGER", "UBIGINT")
    offenders = []
    for name, sql in m.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ)
            if t.startswith(banned_prefixes):
                offenders.append((name, col, t))
    assert not offenders, (
        "oracle columns with Spark-incompatible DuckDB types "
        f"(add CAST in the oracle SQL): {offenders}"
    )
