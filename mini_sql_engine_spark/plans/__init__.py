"""Logical-plan layer: reference-dialect parser, analyzer, SQL lowering.

The reference hand-walks sqlparse tokens into tuples inside one function
(reference ``main.py`` ``parse_query()`` — SURVEY.md §2.1 O14) and
validates against the metadata dict inline (O15). Here the same dialect
is parsed into a tiny typed logical plan (`dialect.ParsedQuery`),
validated by `analyzer.analyze` against a catalog mapping, and lowered by
`builder.to_sql` to one Spark SQL text that `builder.build_dataframe`
runs through ``spark.sql`` — from which point Catalyst owns optimization
(predicate pushdown turns the dialect's "CROSS JOIN then WHERE"
semantics into real hash joins; SURVEY.md §4).
"""

from mini_sql_engine_spark.plans.dialect import ParsedQuery, parse_query, EngineError
from mini_sql_engine_spark.plans.analyzer import analyze
from mini_sql_engine_spark.plans.builder import build_dataframe

__all__ = ["ParsedQuery", "parse_query", "analyze", "build_dataframe", "EngineError"]
