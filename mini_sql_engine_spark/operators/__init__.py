"""Operator query packs.

Each module exposes ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → DuckDB oracle SQL; entries may be
omitted for non-SQL-expressible operators). ``ALL_QUERIES`` /
``ALL_ORACLES`` are the merged registries consumed by
``__spark_entry__.py``.

The registry is built LAZILY (PEP 562 module ``__getattr__``): the
package ``__init__`` imports nothing until ``ALL_QUERIES`` /
``ALL_ORACLES`` is first touched. This matters on the EXECUTORS, not
just the driver: unpickling any mapInPandas/applyInPandas function
defined in an ``operators.*`` module makes the Python worker import
that module, which first runs this package init — when the init
eagerly imported all ~28 packs (plus their numpy/pandas chains), every
fresh worker paid ~0.6 s before its first batch. Lazy init cuts the
worker-side cost to the one pack that defines the UDF. Driver-side
consumers (``__spark_entry__``, ``bench.py``, the test suite) see the
identical merged dicts, built on first attribute access and cached.
"""

from __future__ import annotations

from collections.abc import Callable

# Static, import-free list of the pack modules in registry order. The
# LLM-pipeline packs (dedup, similarity, text, streaming, multimodal,
# curation) lead because they are the flagship extension surface; the
# parity/TPC-H packs follow. The order is a static property of the
# code — it never depends on runtime state or any recorded artifact.
_MODULE_NAMES: tuple[str, ...] = (
    "mini_sql_engine_spark.operators.dedup",
    "mini_sql_engine_spark.operators.similarity",
    "mini_sql_engine_spark.operators.text",
    "mini_sql_engine_spark.streaming.windows",
    "mini_sql_engine_spark.streaming.upsert",
    "mini_sql_engine_spark.operators.multimodal",
    "mini_sql_engine_spark.operators.curation",
    "mini_sql_engine_spark.operators.quality",
    "mini_sql_engine_spark.operators.pq",
    "mini_sql_engine_spark.operators.bpe_train",
    "mini_sql_engine_spark.operators.governance",
    "mini_sql_engine_spark.operators.layout",
    "mini_sql_engine_spark.operators.asof",
    "mini_sql_engine_spark.operators.ml_lsh",
    "mini_sql_engine_spark.operators.pipeline_ops",
    "mini_sql_engine_spark.operators.udfs",
    "mini_sql_engine_spark.operators.parity",
    "mini_sql_engine_spark.operators.tpch",
    "mini_sql_engine_spark.operators.rollups",
    "mini_sql_engine_spark.operators.window_funcs",
    "mini_sql_engine_spark.operators.joins_ext",
    "mini_sql_engine_spark.operators.funcs_ext",
    "mini_sql_engine_spark.operators.analytics",
    "mini_sql_engine_spark.operators.auditing",
    "mini_sql_engine_spark.operators.association",
    "mini_sql_engine_spark.operators.graph_ops",
    "mini_sql_engine_spark.streaming.joins_ext",
    "mini_sql_engine_spark.operators.textprep",
)

_CACHE: dict[str, dict] = {}


def _build() -> None:
    """Import every pack once and merge the registries (cached)."""
    if _CACHE:
        return
    import importlib

    all_queries: dict[str, Callable] = {}
    all_oracles: dict[str, str] = {}
    for mod_name in _MODULE_NAMES:
        mod = importlib.import_module(mod_name)
        for name, fn in mod.QUERIES.items():
            if name in all_queries:
                raise ValueError(f"duplicate query name {name!r}")
            all_queries[name] = fn
        all_oracles.update(getattr(mod, "ORACLES", {}))
    _CACHE["ALL_QUERIES"] = all_queries
    _CACHE["ALL_ORACLES"] = all_oracles


def __getattr__(name: str):
    if name in ("ALL_QUERIES", "ALL_ORACLES"):
        _build()
        return _CACHE[name]
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )
