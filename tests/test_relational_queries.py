"""Every registered query with an oracle must match DuckDB exactly at
sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations


import pytest


from check import compare, duck_connect  # noqa: E402

from multi_crm_cross_sell_spark.plans import all_queries  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


QUERIES = sorted(all_queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = all_queries()[name]
    sdf = q.fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        assert len(sdf) >= 0  # rows-only smoke: plan executes
        return
    odf = duck.execute(q.oracle).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_estimated_value_rounds_like_the_oracle_on_a_half_boundary(spark):
    """cross_sell_recommendations' estimated_value must round like the
    oracle's DuckDB ROUND(x, 2), which is round-half-away(x·100)/100.
    Spends summing to 3492305.85 give x = 349230.58499999996 with
    x·100 = 34923058.5 exactly: DuckDB reads .59, while Spark's
    ROUND(x, 2) rounds x's decimal string HALF_UP and reads .58 (the
    one-cent sf0.1 mismatch). The query's expression must agree with
    DuckDB there and on seeded random spends."""
    import inspect
    import random

    import duckdb

    from multi_crm_cross_sell_spark.plans.crm import cross_sell_recommendations

    expr = "ROUND(0.1D * (spend1 + spend2) * 100D) / 100D"
    assert expr in " ".join(inspect.getsource(cross_sell_recommendations).split())
    rng = random.Random(7)
    rows = [(0, 1746152.92, 1746152.93)] + [
        (i, round(rng.uniform(0, 1e7), 2), round(rng.uniform(0, 1e7), 2))
        for i in range(1, 2001)
    ]
    got = [
        r.v
        for r in spark.createDataFrame(rows, "id int, spend1 double, spend2 double")
        .selectExpr("id", f"{expr} AS v")
        .orderBy("id")
        .collect()
    ]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (id INTEGER, spend1 DOUBLE, spend2 DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        want = [
            v
            for (v,) in con.execute(
                "SELECT ROUND(0.1 * (spend1 + spend2), 2) FROM t ORDER BY id"
            ).fetchall()
        ]
    finally:
        con.close()
    assert got[0] == want[0] == 349230.59
    assert got == want
