"""Output checks against DuckDB, run after the timed region.

Results are compared as multisets of rows (order-insensitive), floats
within a relative 1e-9. A mismatch is recorded on the run as a failed
op, so it counts toward ``failed`` in the printed result.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas / numpy timestamps
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        v = v.tolist() if hasattr(v, "tolist") else v
        return tuple(_norm(x) for x in v) if isinstance(v, (list, tuple)) else _norm(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _sort_key(row: tuple):
    return tuple(
        (0, round(x, 6)) if isinstance(x, (int, float)) else (1, "") if x is None else (2, repr(x))
        for x in row
    )


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    g = sorted((tuple(_norm(x) for x in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(x) for x in r) for r in want), key=_sort_key)
    return all(len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y)) for x, y in zip(g, w))


def _by_columns(rows: list, cols: list[str], order: list[str]) -> list[tuple]:
    idx = [cols.index(c) for c in order]
    return [tuple(r[i] for i in idx) for r in rows]


def _check(run, con, op_id: str, sql: str, rows: list, cols: list[str], by_name: bool) -> bool:
    """One output against DuckDB running ``sql``. With ``by_name`` the
    column sets must match and are compared in name order (oracles may
    order columns differently); otherwise positionally."""
    try:
        cur = con.execute(sql)
        want_cols = [d[0] for d in cur.description]
        want = cur.fetchall()
    except duckdb.Error as exc:
        run.fail(f"oracle {op_id}", exc)
        return False
    if by_name:
        if sorted(cols) != sorted(want_cols):
            run.fail(f"{op_id}: columns {cols} != oracle {want_cols}")
            return False
        rows, want = _by_columns(rows, cols, sorted(cols)), _by_columns(want, want_cols, sorted(cols))
    if not rows_match(rows, want):
        run.fail(f"{op_id}: result differs from DuckDB")
        return False
    return True


def check_sql(run, cat_dir: str, results: list[tuple]) -> int:
    """Dialect queries against their DuckDB translation (the dialect is
    a subset of ANSI SQL, so the translation is the text itself);
    tpch pack queries against the pack's DuckDB oracle; the ANSI q6
    string against DuckDB running the same string."""
    from mini_sql_engine_spark.operators import ALL_ORACLES

    con = _connect(cat_dir)
    try:
        return sum(
            _check(run, con, f"{op_id} {text}",
                   ALL_ORACLES[text] if shape.startswith("tpch_") else text.rstrip(";"),
                   rows, cols, by_name=shape.startswith("tpch_"))
            for op_id, kind, shape, text, rows, cols in results
        )
    finally:
        con.close()


def check_curation(run, oracles: dict, outputs: list[tuple]) -> int:
    """Each chain op with an oracle, against DuckDB over the same
    generated corpus directory."""
    ok = 0
    cons: dict[str, duckdb.DuckDBPyConnection] = {}
    try:
        for op_id, name, data_dir, rows, cols in outputs:
            if name in oracles:
                con = cons.get(data_dir) or cons.setdefault(data_dir, _connect(data_dir))
                ok += _check(run, con, op_id, oracles[name], rows, cols, by_name=True)
    finally:
        for con in cons.values():
            con.close()
    return ok


def check_ingest(run, feed_dir: str, sink_rows: list, state_rows: list) -> int:
    """The MERGE state (read back through the engine) and the sink table
    (re-aggregated through format("minisql")) must both equal DuckDB's
    aggregate of every feed file."""
    con = duckdb.connect()
    try:
        want = con.execute(
            "SELECT user_id, COUNT(*), SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) "
            f"FROM read_parquet('{feed_dir}/*.parquet') GROUP BY user_id"
        ).fetchall()
    finally:
        con.close()
    ok = 0
    for what, got in (("merge state", state_rows), ("sink readback", sink_rows)):
        if rows_match([tuple(r) for r in got], want):
            ok += 1
        else:
            run.fail(f"{what} differs from the DuckDB aggregate of the feed")
    return ok
