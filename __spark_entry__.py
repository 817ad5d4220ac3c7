"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Query packs live in ``mini_sql_engine_spark.operators.*``; each module
exposes ``QUERIES`` (name → callable(spark, sf_dir) → DataFrame) and
``ORACLES`` (name → DuckDB SQL, omitted for non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mini_sql_engine_spark.operators import ALL_ORACLES, ALL_QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return ALL_QUERIES["flagship"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Enumeration order is the registry's fixed, deterministic order
    (see ``mini_sql_engine_spark/operators/__init__.py``) — it depends
    only on the code, never on runtime state or recorded artifacts.
    """
    return dict(ALL_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; non-SQL-expressible ops omitted
    (driver then records a rows-only check)."""
    return dict(ALL_ORACLES)
