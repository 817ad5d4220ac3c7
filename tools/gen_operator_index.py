"""Generate OPERATORS.md — the per-operator index.

One row per ``queries()`` entry: registry position, implementation
site (file:line of the callable) and oracle kind (exact DuckDB SQL vs
rows-only).

SURVEY.md §2.2's prose tables grew past skimmability; this index is
the machine-derived companion — regenerate and commit it whenever the
registry changes:

    python tools/gen_operator_index.py
"""

from __future__ import annotations

import functools
import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from mini_sql_engine_spark.operators import ALL_ORACLES, ALL_QUERIES

    lines = [
        "# Operator index",
        "",
        "Generated by `python tools/gen_operator_index.py` — do not edit.",
        "One row per `queries()` entry, in registry enumeration order.",
        "*Oracle*: `exact` = DuckDB SQL differential (rows + schema +",
        "value hash); `rows-only` = non-SQL-expressible, checked for",
        "rows>0 + schema stability.",
        "",
        "| # | query | implementation | oracle |",
        "|---|---|---|---|",
    ]
    n_exact = n_rows_only = 0
    for i, (name, fn) in enumerate(ALL_QUERIES.items(), 1):
        target = inspect.unwrap(fn)
        if isinstance(target, functools.partial):
            target = target.func
        src = inspect.getsourcefile(target) or "?"
        rel = os.path.relpath(src, REPO)
        try:
            line = inspect.getsourcelines(target)[1]
            site = f"`{rel}:{line}`"
        except OSError:
            site = f"`{rel}`"
        if name in ALL_ORACLES:
            kind = "exact"
            n_exact += 1
        else:
            kind = "rows-only"
            n_rows_only += 1
        lines.append(f"| {i} | `{name}` | {site} | {kind} |")
    lines += [
        "",
        f"**{len(ALL_QUERIES)} entries** — {n_exact} exact oracles, "
        f"{n_rows_only} rows-only.",
        "",
    ]
    out_path = os.path.join(REPO, "OPERATORS.md")
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_path}: {len(ALL_QUERIES)} entries, {n_exact} exact")


if __name__ == "__main__":
    main()
