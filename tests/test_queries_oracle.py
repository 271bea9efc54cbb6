"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at sf0.001 and compare row-count / column names / order-insensitive
value multiset against the DuckDB oracle_sql() on the same parquet."""

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _multiset(dicts, cols):
    return sorted(tuple(_norm(d[c]) for c in sorted(cols)) for d in dicts)


def pytest_generate_tests(metafunc):
    if "qname" in metafunc.fixturenames:
        from adavnceseo_crawler_spark.queries import ORACLES, QUERIES

        metafunc.parametrize("qname", sorted(QUERIES.keys()))


def test_query_matches_oracle(spark, qname):
    from adavnceseo_crawler_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[qname](spark, SF_DIR)
    scols = sdf.columns
    srows = sdf.collect()

    if qname not in ORACLES:
        pytest.skip(f"{qname}: rows-only check (no SQL oracle)")

    con = _duck()
    res = con.execute(ORACLES[qname])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), f"{qname}: column names differ"
    assert len(srows) == len(orows), f"{qname}: row count {len(srows)} != {len(orows)}"
    sm = _multiset([r.asDict() for r in srows], scols)
    om = _multiset([dict(zip(ocols, r)) for r in orows], ocols)
    mism = [i for i, (a, b) in enumerate(zip(sm, om)) if a != b][:5]
    assert sm == om, f"{qname}: first mismatches at {mism}: " + "; ".join(
        f"spark={sm[i]} oracle={om[i]}" for i in mism[:2]
    )


def test_table_schema_inferred_once_per_session(spark, tmp_path):
    """``_t`` infers a table's schema at its first read in the session; a
    second read submits no Spark job, and a rewritten table is re-inferred."""
    from conftest import count_jobs

    from adavnceseo_crawler_spark.queries import _t

    sf = str(tmp_path)
    spark.range(5).write.parquet(f"{sf}/t.parquet")
    _, first = count_jobs(spark, lambda: _t(spark, sf, "t"))
    df, second = count_jobs(spark, lambda: _t(spark, sf, "t"))
    assert (first >= 1, second) == (True, 0)
    assert df.count() == 5

    spark.range(3).selectExpr("id", "'x' AS s").write.mode("overwrite").parquet(
        f"{sf}/t.parquet"
    )
    assert _t(spark, sf, "t").columns == ["id", "s"]
