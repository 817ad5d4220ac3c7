"""Lower a ResolvedQuery to one Spark SQL text.

The reference executes FROM as a k-fold nested-loop cartesian product and
evaluates WHERE per row afterwards (reference ``main.py`` join loop —
SURVEY.md §3.1). We declare exactly those semantics — ``CROSS JOIN`` then
``WHERE`` — and let Catalyst do what the reference cannot (SURVEY.md
§4.1): ``PushDownPredicates`` recognizes equality conditions across the
product and rewrites cross+filter into a real equi-join, then picks
broadcast-hash / shuffled-hash / sort-merge by size. The *semantics*
stay the reference's (both join columns appear in ``*`` output), the
*plan* is a proper join — verified in tests by asserting no
CartesianProduct node survives for equi-join queries.

The dialect's comparison operators and aggregate names are already Spark
SQL, so lowering is string assembly and a query costs one ``spark.sql``
call, analysed once. The product is written ``CROSS JOIN``, not
``FROM a, b``: Spark plans the comma form as an inner join and the
explicit form as the cross join the dialect defines. Integer literals
are SQL literals, so one beyond ``BIGINT`` types as ``DECIMAL`` instead
of failing.

Scale note: nothing here collects to the driver; output is a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mini_sql_engine_spark.plans.analyzer import ResolvedQuery
from mini_sql_engine_spark.plans.dialect import ColumnRef, SelectItem


def _quote(name: str) -> str:
    # back-quoted identifier; the braces are doubled because the text is
    # a template for spark.sql's ``{t0}`` table placeholders
    name = name.replace("`", "``").replace("{", "{{").replace("}", "}}")
    return f"`{name}`"


def _ref(ref: ColumnRef) -> str:
    # refs are fully qualified after analysis; the per-table aliases make
    # `t`.`c` resolvable even when column names collide
    return f"{_quote(ref.table)}.{_quote(ref.column)}"


def _item(item: SelectItem, col: str) -> str:
    """``col`` wrapped in the item's aggregate. With the qualified name
    as ``col`` this is the reference's output header (SURVEY.md §2.1
    O16), with the quoted reference it is the SQL expression."""
    if item.agg:
        return f"{item.agg}({'DISTINCT ' if item.agg_distinct else ''}{col})"
    return col


def to_sql(r: ResolvedQuery) -> str:
    """ResolvedQuery → Spark SQL text whose FROM tables are the
    placeholders ``{t0}``, ``{t1}``, … in FROM order, for
    ``spark.sql(text, t0=df0, t1=df1, …)``."""
    q = r.parsed
    items = [SelectItem(c) for c in r.star_columns] if q.select_star else r.items
    sql = "SELECT " + ("DISTINCT " if q.distinct else "") + ", ".join(
        f"{_item(i, _ref(i.column))} AS {_quote(_item(i, str(i.column)))}" for i in items
    )
    sql += " FROM " + " CROSS JOIN ".join(
        f"{{t{i}}} AS {_quote(t)}" for i, t in enumerate(q.tables)
    )
    if r.conditions:
        sql += " WHERE " + f" {q.connective} ".join(
            f"({_ref(c.lhs)} {c.op} {_ref(c.rhs) if isinstance(c.rhs, ColumnRef) else c.rhs})"
            for c in r.conditions
        )
    return sql


def build_dataframe(r: ResolvedQuery, tables: dict[str, DataFrame]) -> DataFrame:
    """ResolvedQuery + (name → DataFrame) → result DataFrame, through one
    ``spark.sql`` call. PySpark binds each frame to a temp view of its
    own for the analysis and drops it afterwards, so the engine keeps no
    view state. The placeholders are ``t0``, ``t1``, … rather than the
    table names, which could collide with ``spark.sql``'s own
    parameters (``sqlQuery``, ``args``)."""
    frames = {f"t{i}": tables[t] for i, t in enumerate(r.parsed.tables)}
    return frames["t0"].sparkSession.sql(to_sql(r), **frames)
