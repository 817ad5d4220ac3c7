"""Parity micro-tests against the reconstructed `mini` fixture.

Each probe comes from FIXTURES.md §2 — the reference's exact dialect and
semantics (qualified headers, cross-join both-columns output, 2-predicate
WHERE, integer model). SURVEY.md §5.2 item 4.
"""

from __future__ import annotations

import pytest

from mini_sql_engine_spark.engine import Engine
from mini_sql_engine_spark.plans.dialect import EngineError


@pytest.fixture(scope="module")
def eng(spark, mini_dir):
    return Engine.from_metadata_dir(spark, mini_dir)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_select_star(eng):
    df = eng.sql("SELECT * FROM table1;")
    assert df.columns == ["table1.A", "table1.B", "table1.C"]
    assert rows(df) == [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 2, 3)]


def test_projection(eng):
    df = eng.sql("SELECT A, C FROM table1;")
    assert df.columns == ["table1.A", "table1.C"]
    assert rows(df) == [(1, 3), (4, 6), (7, 9), (10, 3)]


def test_where_and(eng):
    df = eng.sql("SELECT A,B FROM table1 WHERE A>3 AND B<8;")
    assert rows(df) == [(4, 5), (10, 2)]


def test_where_or(eng):
    df = eng.sql("SELECT A FROM table1 WHERE B=2 OR C=6;")
    assert rows(df) == [(1,), (4,), (10,)]


def test_where_not_equal(eng):
    df = eng.sql("SELECT A FROM table1 WHERE B != 2;")
    assert rows(df) == [(4,), (7,)]


def test_where_col_vs_col(eng):
    df = eng.sql("SELECT A FROM table1 WHERE B < C;")
    assert rows(df) == [(1,), (4,), (7,), (10,)]


def test_where_literal_beyond_bigint(eng):
    """An integer literal past BIGINT is a SQL DECIMAL literal, compared
    exactly — not an error."""
    df = eng.sql("SELECT A FROM table1 WHERE A < 99999999999999999999;")
    assert rows(df) == [(1,), (4,), (7,), (10,)]
    assert rows(eng.sql("SELECT A FROM table1 WHERE A > 99999999999999999999;")) == []


def test_unusual_table_and_column_names(spark):
    """``*`` expands from schema names, which parquet lets hold
    back-quotes and braces, and table names may be those of
    ``spark.sql``'s own parameters; all survive the SQL text."""
    e = Engine(spark, {
        "args": spark.sql("SELECT 1 AS `a``b`, 2 AS `{c}`"),
        "sqlQuery": spark.sql("SELECT 3 AS d"),
    })
    df = e.sql("SELECT * FROM args, sqlQuery WHERE d = 3;")
    assert df.columns == ["args.a`b", "args.{c}", "sqlQuery.d"]
    assert rows(df) == [(1, 2, 3)]


def test_distinct(eng):
    df = eng.sql("SELECT DISTINCT B, C FROM table1;")
    assert rows(df) == [(2, 3), (5, 6), (8, 9)]


def test_distinct_paren_form(eng):
    """Sibling form DISTINCT(col) ≡ DISTINCT col (SURVEY §2.1 O13
    [R-uncertain] — accept both spellings)."""
    df = eng.sql("SELECT DISTINCT(B) FROM table1;")
    assert rows(df) == [(2,), (5,), (8,)]


def test_aggregates(eng):
    df = eng.sql("SELECT MAX(A), SUM(B) FROM table1;")
    assert df.columns == ["MAX(table1.A)", "SUM(table1.B)"]
    assert rows(df) == [(10, 17)]


def test_avg_count(eng):
    df = eng.sql("SELECT AVG(B), COUNT(B) FROM table1;")
    assert rows(df) == [(4.25, 4)]


def test_count_distinct(eng):
    df = eng.sql("SELECT COUNT(DISTINCT B) FROM table1;")
    assert df.columns == ["COUNT(DISTINCT table1.B)"]
    assert rows(df) == [(3,)]


def test_cross_join(eng):
    df = eng.sql("SELECT * FROM table1, table2;")
    assert df.columns == [
        "table1.A",
        "table1.B",
        "table1.C",
        "table2.B",
        "table2.D",
    ]
    assert df.count() == 12


def test_equi_join_keeps_both_columns(eng):
    df = eng.sql("SELECT * FROM table1, table2 WHERE table1.B = table2.B;")
    assert df.columns == [
        "table1.A",
        "table1.B",
        "table1.C",
        "table2.B",
        "table2.D",
    ]
    assert rows(df) == [
        (1, 2, 3, 2, 100),
        (1, 2, 3, 2, 300),
        (4, 5, 6, 5, 200),
        (10, 2, 3, 2, 100),
        (10, 2, 3, 2, 300),
    ]


def test_equi_join_is_not_cartesian_in_physical_plan(eng):
    """Catalyst must rewrite cross+filter(equality) into a real join."""
    df = eng.sql("SELECT * FROM table1, table2 WHERE table1.B = table2.B;")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_join_filter_agg(eng):
    df = eng.sql(
        "SELECT SUM(table2.D) FROM table1, table2 WHERE table1.B = table2.B AND table1.A < 5;"
    )
    # rows (1,2)x(100,300) + (4,5)x(200) → 100+300+200 = 600
    assert rows(df) == [(600,)]


def test_qualified_projection(eng):
    df = eng.sql("SELECT table1.A, table2.D FROM table1, table2 WHERE table1.B = table2.B;")
    assert df.columns == ["table1.A", "table2.D"]
    assert df.count() == 5


# ---- error surface (O15) ----------------------------------------------------


@pytest.mark.parametrize(
    "q",
    [
        "SELECT * FROM table1",  # missing ;
        "SELECT B FROM table1, table2;",  # ambiguous bare column
        "SELECT nope FROM table1;",  # unknown column
        "SELECT A FROM nope;",  # unknown table
        "SELECT A FROM table1 WHERE A=1 AND B=2 AND C=3;",  # >2 conditions
        "SELECT MAX(A), B FROM table1;",  # mixed agg and plain
        "SELECT A FROM table1 WHERE table2.B = 1;",  # table not in FROM
        "SELECT A FROM table1 WHERE 1 = A;",  # literal lhs unsupported by dialect
        "FROBNICATE A FROM table1;",  # unknown verb
    ],
)
def test_errors(eng, q):
    with pytest.raises(EngineError):
        eng.sql(q)


def test_execute_csv_output(eng):
    out = eng.execute("SELECT A,B FROM table1 WHERE A>3 AND B<8;")
    lines = out.splitlines()
    assert lines[0] == "table1.A,table1.B"
    assert sorted(lines[1:]) == ["10,2", "4,5"]


def test_connector_engine_equivalent(spark, mini_dir, eng):
    """Engine.from_datasource_dir (format('minisql') connector) answers
    every query shape identically to the CSV-loader engine."""
    ds_eng = Engine.from_datasource_dir(spark, mini_dir)
    for q in (
        "SELECT * FROM table1;",
        "SELECT A, C FROM table1 WHERE A > 1 AND C < 9;",
        "SELECT * FROM table1, table2 WHERE table1.B = table2.B;",
        "SELECT SUM(D) FROM table2;",
        "SELECT DISTINCT B FROM table1;",
    ):
        assert rows(ds_eng.sql(q)) == rows(eng.sql(q)), q


def test_ansi_sql_binds_each_engines_own_tables(spark):
    """Two Engines on one session with a table of the same name: each
    call binds the calling engine's table, however the query names it."""
    ones = Engine(spark, {"ansi_t": spark.sql("SELECT 1 AS v")})
    twos = Engine(spark, {"ansi_t": spark.sql("SELECT 2 AS v UNION ALL SELECT 2")})
    try:
        for e, want in ((ones, [(1,)]), (twos, [(2,), (2,)]), (ones, [(1,)])):
            for q in (
                "SELECT v FROM ansi_t",
                "SELECT v FROM `ansi_t`",
                "SELECT v FROM Ansi_T",
                "WITH c AS (SELECT v FROM ansi_t) SELECT v FROM c",
            ):
                assert rows(e.ansi_sql(q)) == want, q
    finally:
        spark.catalog.dropTempView("ansi_t")


def test_ansi_sql_registers_only_named_tables(spark):
    names = ("ansi_only_p", "ansi_only_p2", "ansi_only_q")
    e = Engine(spark, {n: spark.sql(f"SELECT {i} AS v") for i, n in enumerate(names)})
    try:
        assert rows(e.ansi_sql("SELECT v FROM ansi_only_p2")) == [(1,)]
        assert [n for n in names if spark.catalog.tableExists(n)] == ["ansi_only_p2"]
    finally:
        for n in names:
            spark.catalog.dropTempView(n)
