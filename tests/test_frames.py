"""Property tests for functions.frames: the JVM-side literal builders
must be drop-in equivalent to createDataFrame on values, names, and
types (nullability intentionally differs: VALUES columns are
non-nullable, which is strictly more precise and union-compatible).

Also the frames the engine keeps alive between calls: the session's
memory page size and the one-directory ``DFMemo`` lifetime."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from mini_sql_engine_spark.catalog import DFMemo
from mini_sql_engine_spark.functions.frames import (
    _split_schema,
    jvm_empty,
    jvm_rows,
)

_FINITE = st.floats(allow_nan=False, allow_infinity=False, width=64)
_SPECIAL = st.sampled_from(
    [float("inf"), float("-inf"), 0.0, -0.0, 1e-308, -1e308]
)
_STRINGS = st.text(
    alphabet=st.characters(
        codec="ascii", min_codepoint=32, max_codepoint=126
    ),
    max_size=12,
)


def _collect(df):
    return sorted(
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in map(tuple, df.collect())
    )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-(2**31), 2**31 - 1),
            st.one_of(_FINITE, _SPECIAL),
            _STRINGS,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_jvm_rows_matches_createDataFrame(spark, rows):
    schema = "a int, b double, s string"
    a = jvm_rows(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]
    assert _collect(a) == _collect(b)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 100),
            st.lists(_FINITE, min_size=2, max_size=4),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_jvm_rows_arrays_match(spark, rows):
    schema = "i int, v array<double>"
    a = jvm_rows(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert _collect(a) == _collect(b)


def test_jvm_rows_nan_roundtrip(spark):
    [(x,)] = jvm_rows(spark, [(float("nan"),)], "x double").collect()
    assert math.isnan(x)


def test_jvm_empty_matches(spark):
    schema = "val long, g long, s string, m map<string,int>"
    a = jvm_empty(spark, schema)
    b = spark.createDataFrame([], schema)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]
    assert a.count() == 0


def test_split_schema_handles_nesting():
    assert _split_schema("a int, b map<string,int>, c array<double>") == [
        ("a", "int"),
        ("b", "map<string,int>"),
        ("c", "array<double>"),
    ]


def test_sql_lit_rejects_binary():
    # bytes IS a Sequence — without an explicit guard it would render
    # as array(104, 105) int literals (wrong data, no error)
    from mini_sql_engine_spark.functions.frames import _sql_lit

    import pytest as _pytest

    for v in (b"hi", bytearray(b"hi"), memoryview(b"hi")):
        with _pytest.raises(TypeError, match="binary literals"):
            _sql_lit(v)


def test_session_page_size(spark):
    # unset, Spark derives 64 MiB pages from an 8g driver on 4 cores,
    # and every hash relation or aggregation map a kept plan holds
    # pins at least one page
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == 2 * 1024 * 1024


def test_dfmemo_holds_one_directory(spark, tmp_path):
    for name in ("a", "b"):
        (tmp_path / name).mkdir()
        (tmp_path / name / "documents.parquet").write_bytes(b"v1")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    memo = DFMemo()
    df_a = memo.put(a, spark.range(3).persist())[0]
    assert df_a.count() == 3
    # ops on the same directory share the entry
    assert memo.get(spark, a)[0] is df_a
    assert df_a.is_cached and df_a.storageLevel.useMemory
    # the first put for another directory drops and unpersists it
    df_b = memo.put(b, spark.range(4).persist())[0]
    assert memo.get(spark, a) is None
    assert not df_a.is_cached and not df_a.storageLevel.useMemory
    assert memo.get(spark, b)[0] is df_b
    # an in-place regeneration of the driving table misses and evicts
    (tmp_path / "b" / "documents.parquet").write_bytes(b"v2 longer")
    assert memo.get(spark, b) is None
    assert not df_b.is_cached and not df_b.storageLevel.useMemory


def test_memos_ignore_entries_of_another_session(spark, sf_dir):
    """A stopped session's ``id()`` can be reused by a new session: an
    entry built under another session, planted under this session's
    key, is a miss and is replaced."""
    from mini_sql_engine_spark import catalog
    from mini_sql_engine_spark.operators import parity

    other = spark.newSession()
    key = (id(spark), "region", catalog.content_token(sf_dir, "region"))
    catalog._SCAN_MEMO[key] = other.range(1)
    df = catalog.load_table(spark, sf_dir, "region")
    assert df.sparkSession is spark
    assert catalog._SCAN_MEMO[key] is df
    assert catalog.load_table(spark, sf_dir, "region") is df

    parity._ENGINE_CACHE[(id(spark), sf_dir)] = parity.Engine(other, {})
    assert parity.engine_for(spark, sf_dir).spark is spark
