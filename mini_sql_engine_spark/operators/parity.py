"""Parity query pack: one named query per reference operator row.

Covers SURVEY.md §2.1 O3–O13 over the driver's TPC-H-ish parquet tables.
Queries expressible in the reference dialect (integer literals only) run
through the full engine front end (`Engine.sql`) — parser → analyzer →
builder → Catalyst — so the driver's oracle check exercises the engine,
not hand-built DataFrames. Output columns are renamed to bare names so
they match the ``oracle_sql`` aliases (the driver hash-compares by
column name).

Aggregates over doubles (SUM/AVG) are rounded to 2 decimals on both
sides — summation order differs between Spark (partial aggregates per
partition) and DuckDB, so last-ulp drift is expected and rounded away
(FIXTURES.md §1.4).

Scale notes: every query is a single scan + optional join/agg; joins are
on FK keys so Catalyst broadcast-joins the small side (nation/region
always; orders↔customer by AQE size estimate). No collect() anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_sql_engine_spark.catalog import load_table
from mini_sql_engine_spark.engine import Engine

_ENGINE_CACHE: dict[tuple[int, str], Engine] = {}


def engine_for(spark: SparkSession, sf_dir: str) -> Engine:
    """Cache one Engine per (session, sf_dir) — registration is lazy but
    repeated parquet schema reads are wasted work at test cadence. A
    stopped session's id() can be reused, so an Engine of another
    session is a miss and is replaced."""
    key = (id(spark), sf_dir)
    eng = _ENGINE_CACHE.get(key)
    if eng is None or eng.spark is not spark:
        eng = _ENGINE_CACHE[key] = Engine.from_parquet_dir(spark, sf_dir)
    return eng


def _via_engine(dialect_query: str, out_cols: list[str]) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return engine_for(spark, sf_dir).sql(dialect_query).toDF(*out_cols)

    return run


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + filter + whole-table agg — the reference's marquee
    query shape (SURVEY.md §7.1), on the fact table.

    Plan at scale: filter on l_discount pushes to the parquet scan;
    the join is on lineitem's FK to orders, AQE picks broadcast or
    shuffled-hash by the orders side's size.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
    return joined.filter(F.col("l_discount") > 0.05).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


FLAGSHIP_ORACLE = """
SELECT ROUND(SUM(l_extendedprice), 2) AS revenue, COUNT(*) AS n_lines
FROM lineitem, orders
WHERE l_orderkey = o_orderkey AND l_discount > 0.05
"""


def _agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def _agg_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.avg("l_quantity"), 4).alias("avg_qty")
    )


# name → (runner, oracle_sql). Dialect strings double as documentation of
# the reference surface each entry exercises.
PARITY: dict[str, tuple[Callable, str]] = {
    "flagship": (flagship, FLAGSHIP_ORACLE),
    # O3 projection
    "parity_projection": (
        _via_engine("SELECT o_orderkey, o_custkey FROM orders;", ["o_orderkey", "o_custkey"]),
        "SELECT o_orderkey, o_custkey FROM orders",
    ),
    # O3 star expansion
    "parity_select_star": (
        _via_engine("SELECT * FROM region;", ["r_regionkey", "r_name"]),
        "SELECT r_regionkey, r_name FROM region",
    ),
    # O4 each comparison operator
    "parity_filter_eq": (
        _via_engine(
            "SELECT s_suppkey, s_nationkey FROM supplier WHERE s_nationkey = 5;",
            ["s_suppkey", "s_nationkey"],
        ),
        "SELECT s_suppkey, s_nationkey FROM supplier WHERE s_nationkey = 5",
    ),
    "parity_filter_lt": (
        _via_engine(
            "SELECT p_partkey, p_size FROM part WHERE p_size < 10;", ["p_partkey", "p_size"]
        ),
        "SELECT p_partkey, p_size FROM part WHERE p_size < 10",
    ),
    "parity_filter_gt": (
        _via_engine("SELECT p_partkey FROM part WHERE p_size > 40;", ["p_partkey"]),
        "SELECT p_partkey FROM part WHERE p_size > 40",
    ),
    "parity_filter_le": (
        _via_engine("SELECT p_partkey FROM part WHERE p_size <= 3;", ["p_partkey"]),
        "SELECT p_partkey FROM part WHERE p_size <= 3",
    ),
    "parity_filter_ge": (
        _via_engine("SELECT p_partkey FROM part WHERE p_size >= 48;", ["p_partkey"]),
        "SELECT p_partkey FROM part WHERE p_size >= 48",
    ),
    "parity_filter_ne": (
        _via_engine(
            "SELECT n_nationkey, n_regionkey FROM nation WHERE n_regionkey != 2;",
            ["n_nationkey", "n_regionkey"],
        ),
        "SELECT n_nationkey, n_regionkey FROM nation WHERE n_regionkey != 2",
    ),
    # O5 boolean combiners
    "parity_filter_and": (
        _via_engine(
            "SELECT p_partkey, p_size FROM part WHERE p_size > 10 AND p_size < 20;",
            ["p_partkey", "p_size"],
        ),
        "SELECT p_partkey, p_size FROM part WHERE p_size > 10 AND p_size < 20",
    ),
    "parity_filter_or": (
        _via_engine(
            "SELECT n_nationkey FROM nation WHERE n_regionkey = 0 OR n_regionkey = 4;",
            ["n_nationkey"],
        ),
        "SELECT n_nationkey FROM nation WHERE n_regionkey = 0 OR n_regionkey = 4",
    ),
    # O4 column-vs-column predicate
    "parity_filter_col_vs_col": (
        _via_engine(
            "SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem WHERE l_partkey < l_suppkey;",
            ["l_orderkey", "l_partkey", "l_suppkey"],
        ),
        "SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem WHERE l_partkey < l_suppkey",
    ),
    # O6 cartesian product
    "parity_cross_join": (
        _via_engine(
            "SELECT * FROM region, nation;",
            ["r_regionkey", "r_name", "n_nationkey", "n_name", "n_regionkey"],
        ),
        "SELECT r_regionkey, r_name, n_nationkey, n_name, n_regionkey FROM region, nation",
    ),
    # O7 equi-join (both join columns kept, reference semantics)
    "parity_equi_join": (
        _via_engine(
            "SELECT * FROM nation, region WHERE nation.n_regionkey = region.r_regionkey;",
            ["n_nationkey", "n_name", "n_regionkey", "r_regionkey", "r_name"],
        ),
        "SELECT n_nationkey, n_name, n_regionkey, r_regionkey, r_name "
        "FROM nation, region WHERE n_regionkey = r_regionkey",
    ),
    "parity_equi_join_big": (
        _via_engine(
            "SELECT orders.o_orderkey, customer.c_custkey, customer.c_nationkey "
            "FROM orders, customer WHERE orders.o_custkey = customer.c_custkey;",
            ["o_orderkey", "c_custkey", "c_nationkey"],
        ),
        "SELECT o_orderkey, c_custkey, c_nationkey FROM orders, customer "
        "WHERE o_custkey = c_custkey",
    ),
    # O8 DISTINCT
    "parity_distinct": (
        _via_engine(
            "SELECT DISTINCT l_suppkey, l_linenumber FROM lineitem;",
            ["l_suppkey", "l_linenumber"],
        ),
        "SELECT DISTINCT l_suppkey, l_linenumber FROM lineitem",
    ),
    # O9–O13 whole-table aggregates
    "parity_agg_max": (
        _via_engine("SELECT MAX(l_quantity) FROM lineitem;", ["max_qty"]),
        "SELECT MAX(l_quantity) AS max_qty FROM lineitem",
    ),
    "parity_agg_min": (
        _via_engine("SELECT MIN(l_quantity) FROM lineitem;", ["min_qty"]),
        "SELECT MIN(l_quantity) AS min_qty FROM lineitem",
    ),
    "parity_agg_sum": (
        _agg_sum,
        "SELECT ROUND(SUM(l_quantity), 2) AS sum_qty FROM lineitem",
    ),
    "parity_agg_avg": (
        _agg_avg,
        "SELECT ROUND(AVG(l_quantity), 4) AS avg_qty FROM lineitem",
    ),
    "parity_agg_count": (
        _via_engine("SELECT COUNT(l_orderkey) FROM lineitem;", ["cnt"]),
        "SELECT COUNT(l_orderkey) AS cnt FROM lineitem",
    ),
    "parity_count_distinct": (
        _via_engine("SELECT COUNT(DISTINCT l_suppkey) FROM lineitem;", ["cnt_suppkey"]),
        "SELECT COUNT(DISTINCT l_suppkey) AS cnt_suppkey FROM lineitem",
    ),
    # O6+O4: the reference's join idiom (cross then filter) with an extra
    # predicate, through the dialect end-to-end
    "parity_join_filter_agg": (
        _via_engine(
            "SELECT COUNT(lineitem.l_orderkey) FROM lineitem, orders "
            "WHERE lineitem.l_orderkey = orders.o_orderkey AND lineitem.l_linenumber = 1;",
            ["cnt"],
        ),
        "SELECT COUNT(l_orderkey) AS cnt FROM lineitem, orders "
        "WHERE l_orderkey = o_orderkey AND l_linenumber = 1",
    ),
}

QUERIES: dict[str, Callable] = {k: v[0] for k, v in PARITY.items()}
ORACLES: dict[str, str] = {k: v[1] for k, v in PARITY.items()}
