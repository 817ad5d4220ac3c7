"""Oracle-differential tests: every queries() entry vs its DuckDB oracle.

This is the same gate the driver runs at sf0.01 (SURVEY.md §5.2 item 1);
locally it runs at sf0.001 by default for speed — set
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to match the driver.
Entries without an oracle (non-SQL-expressible) get a rows-only check.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_utils import assert_frames_match, duckdb_run

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns  # stable schema


def test_queries_enumeration_is_deterministic():
    """queries() must enumerate in a fixed order that depends only on
    the code — never on recorded artifacts or runtime state: the static
    pack order of ``operators._MODULE_NAMES``, without duplicates."""
    first = list(entrymod.queries())
    assert first == list(entrymod.queries())
    assert len(first) == len(set(first))


# Rows-only queries (no SQL oracle) that legitimately return an empty
# result on the tiny local fixture; everything else must produce rows,
# matching the driver's rows>0 smoke semantics.
MAY_BE_EMPTY: frozenset[str] = frozenset()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name in ORACLES:
        odf = duckdb_run(ORACLES[name], sf_dir)
        assert_frames_match(sdf, odf, name)
    else:
        assert list(sdf.columns)
        if name not in MAY_BE_EMPTY:
            assert len(sdf) > 0, f"rows-only query {name} returned 0 rows"
