"""Property tests for functions.frames: the JVM-side literal builders
must be drop-in equivalent to createDataFrame on values, names, and
types (nullability intentionally differs: VALUES columns are
non-nullable, which is strictly more precise and union-compatible).

Also what the engine keeps alive between calls: the session's memory
page size, its codegen class cache and the one-directory ``DFMemo``
lifetime."""

from __future__ import annotations

import math
import os
import subprocess
import sys

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


def recompiles_after_filling(spark, n: int = 120, again: int = 5) -> int:
    """Compile ``n`` distinct one-stage plans, more than Spark's default
    cache of 100 classes holds, then run the first ``again`` of them
    once more: the number of classes the re-run compiles."""

    def run(i: int) -> None:
        spark.range(1, numPartitions=1).selectExpr(f"id * {i + 2} + {i}").collect()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    for i in range(n):
        run(i)
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    for i in range(again):
        run(i)
    return compiles.METRIC_COMPILATION_TIME().getCount() - before


def test_codegen_cache_holds_many_plans(spark):
    # at the default size of 100 a curation chain's ~194 classes evict
    # each other, and every chain recompiles all of them
    assert recompiles_after_filling(spark) == 0


_OFF_THREAD = """
from concurrent.futures import ThreadPoolExecutor

from mini_sql_engine_spark.session import get_spark
from tests.test_frames import recompiles_after_filling

spark = get_spark(app_name="codegen-cache-check")


def first_compile_off_thread():
    # DataFrame.rdd executes the plan outside the session's scope, and a
    # pool thread has no active session of its own
    spark.range(3).selectExpr("id + 1").rdd.getNumPartitions()
    return recompiles_after_filling(spark)


with ThreadPoolExecutor(1) as pool:
    print("RECOMPILES", pool.submit(first_compile_off_thread).result())
"""


def test_codegen_cache_size_when_first_compile_is_off_thread():
    """Spark sizes the codegen cache once, from the conf of the thread
    that first compiles. A compile on a pool thread outside any session
    scope would size it at Spark's default; ``get_spark`` builds the
    cache on its own thread, so the size is the session's."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _OFF_THREAD],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RECOMPILES 0" in proc.stdout.splitlines(), proc.stdout


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
