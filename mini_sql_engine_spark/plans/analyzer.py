"""Semantic analysis for the reference dialect.

Mirrors the reference's scattered validation checks (reference
``main.py``, SURVEY.md §2.1 O15): unknown table, unknown column,
ambiguous bare column across the FROM tables, qualified column whose
table is not in FROM. Catalyst would catch most of these too
(``AnalysisException``), but resolving here (a) produces reference-style
messages and (b) lets the builder emit fully-qualified SQL so Spark
never sees an ambiguous name.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from mini_sql_engine_spark.plans.dialect import (
    ColumnRef,
    Condition,
    EngineError,
    ParsedQuery,
    SelectItem,
)


@dataclass
class ResolvedQuery:
    """ParsedQuery with every ColumnRef bound to its table."""

    parsed: ParsedQuery
    items: list[SelectItem] = field(default_factory=list)  # all refs qualified
    conditions: list[Condition] = field(default_factory=list)
    # select_star expansion: (table, column) in metadata order
    star_columns: list[ColumnRef] = field(default_factory=list)


def _resolve_ref(ref: ColumnRef, tables: list[str], schema: dict[str, list[str]]) -> ColumnRef:
    if ref.table is not None:
        if ref.table not in tables:
            raise EngineError(f"table {ref.table!r} not in FROM clause")
        if ref.column not in schema[ref.table]:
            raise EngineError(f"column {ref.column!r} not found in table {ref.table!r}")
        return ref
    owners = [t for t in tables if ref.column in schema[t]]
    if not owners:
        raise EngineError(f"column {ref.column!r} not found in any FROM table")
    if len(owners) > 1:
        raise EngineError(
            f"column {ref.column!r} is ambiguous across tables: {', '.join(owners)}"
        )
    return ColumnRef(owners[0], ref.column)


def analyze(q: ParsedQuery, schema: dict[str, list[str]]) -> ResolvedQuery:
    """Bind every column reference; raise EngineError like the reference."""
    for t in q.tables:
        if t not in schema:
            raise EngineError(f"unknown table {t!r}")
    seen: set[str] = set()
    for t in q.tables:
        if t in seen:
            raise EngineError(f"table {t!r} listed twice in FROM")
        seen.add(t)

    r = ResolvedQuery(parsed=q)
    if q.select_star:
        # reference expands * to every column of every FROM table, in
        # metadata order, table order as written (SURVEY.md §2.1 O3)
        r.star_columns = [ColumnRef(t, c) for t in q.tables for c in schema[t]]
    for item in q.items:
        r.items.append(
            SelectItem(
                _resolve_ref(item.column, q.tables, schema),
                agg=item.agg,
                agg_distinct=item.agg_distinct,
            )
        )
    for cond in q.conditions:
        lhs = _resolve_ref(cond.lhs, q.tables, schema)
        rhs = cond.rhs
        if isinstance(rhs, ColumnRef):
            rhs = _resolve_ref(rhs, q.tables, schema)
        r.conditions.append(Condition(lhs, cond.op, rhs))
    return r
