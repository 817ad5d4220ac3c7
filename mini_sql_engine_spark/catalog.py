"""Catalog: map table names to DataFrames / temp views.

The reference keeps an external catalog (``metadata.txt`` parsed by
``load_metadata()`` in the reference's ``main.py`` — SURVEY.md §2.1 O1)
and loads whole CSV tables into Python lists per query (O2, no pruning).
Here the Spark session catalog replaces the dict, parquet replaces CSV,
and scans are lazy: Catalyst prunes columns and pushes filters down to
the parquet reader, so "load" costs nothing until an action runs.

Scale note: at 100 TB each table would be a partitioned parquet/iceberg
dataset; `register_sf_tables` takes any directory layout where
``{dir}/{name}.parquet`` is a file OR a partitioned directory — Spark's
reader handles both identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# The ten driver-generated tables (TESTDATA.md:13-15).
SF_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily load one table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` normalization contract: whatever physical type the
    testdata uses for ``ts``, downstream operators always see a session-
    zoned ``TimestampType`` (never NTZ, never raw integers). Handled
    forms, all observed across driver testdata generations:

    - parquet ``timestamp[us]`` without UTC adjustment → Spark infers
      ``TIMESTAMP_NTZ`` (``spark.sql.parquet.inferTimestampNTZ.enabled``
      defaults true); converted via ``to_utc_timestamp(ts, 'UTC')`` —
      the session TZ is UTC so wall-clock values are unchanged, but the
      type becomes TIMESTAMP, which ``withWatermark``/``unix_micros``
      require;
    - parquet TIMESTAMP(NANOS), which Spark has no native type for
      (SPARK-40819): with ``spark.sql.legacy.parquet.nanosAsLong`` it
      arrives as long nanoseconds and is truncated to microseconds.

    ``tests/test_sources.py::test_events_ts_contract`` pins this for
    both physical forms.
    """
    if name not in SF_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {', '.join(SF_TABLES)}")
    # Round 10: memoize the SCAN PLAN per (session, table, content
    # fingerprint). `spark.read.parquet` costs ~0.12 s per call warm
    # (driver-side file listing + footer schema read), and the suite
    # calls it 1–3× per query — a pure per-query fixed cost at any
    # scale (guide §1: measure first — this was ~15% of the whole
    # bench). The memo returns the same immutable DataFrame object:
    # no data or results are cached (every action still scans the
    # parquet); the content_token key (size+mtime) invalidates the
    # entry if the fixture file is regenerated in place. A stopped
    # session's id() can be reused by a new one, so an entry of another
    # session is a miss and is replaced (as in DFMemo.get).
    key = (id(spark), name, content_token(sf_dir, name))
    df = _SCAN_MEMO.get(key)
    if df is None or df.sparkSession is not spark:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = normalize_event_ts(df)
        _SCAN_MEMO[key] = df
    return df


# (session id, table, content token) -> scan DataFrame. Bounded: ten
# tables x the handful of sf_dirs a session touches.
_SCAN_MEMO: dict[tuple[int, str, str], DataFrame] = {}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce an events DataFrame's ``ts`` to session-zoned TimestampType.

    Shared by the batch catalog and the streaming source so batch and
    stream see identical event-time semantics (stream-batch parity).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":  # legacy nanos-as-long form
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition iff the scan produced fewer partitions.

    Small local parquet files arrive as ONE split, serializing every
    downstream per-row computation (shingling, hashing, UDF batches) on
    a single core. At production scale inputs are already many splits
    and this is a no-op — the check costs a plan inspection, not a job.
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    # Round 10: the split-count probe (`df.rdd.getNumPartitions()`)
    # physically plans the scan — ~0.05 s per call warm. With
    # load_table memoized the SAME DataFrame object flows through
    # here once per query, so pin the decision on the object itself
    # (lifetime-tied: the note dies with the DataFrame).
    cached = getattr(df, "_msql_min_parts", None)
    if cached is not None and cached[0] == n:
        return cached[1]
    out = df.repartition(n) if df.rdd.getNumPartitions() < n else df
    df._msql_min_parts = (n, out)
    return out


def register_sf_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = SF_TABLES
) -> dict[str, DataFrame]:
    """Register every table as a temp view; return name → DataFrame.

    Registration is metadata-only (no data read); `spark.sql` queries can
    then reference the names directly and Catalyst resolves them.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def content_token(sf_dir: str, table: str = "documents") -> str:
    """Cheap stat-only content fingerprint of one table under sf_dir
    (size + mtime of the parquet) — cache keys built on it invalidate
    when fixture data is regenerated IN PLACE, where a bare path key
    would silently serve stale results (round-8/round-10 advice). The
    canonical implementation; `governance._stage_token` delegates
    here."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        return f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        return sf_dir


class DFMemo:
    """Memo of the persist()ed DataFrames of ONE sf_dir, checked on CONTENT.

    One directory at a time: the ops of one curation chain share a
    directory, so they share the entry, and a ``put`` for another
    directory unpersists and drops the previous one. A finished corpus
    therefore pins neither its cached blocks nor the executed plans
    (and their memory pages) behind them. ``get`` misses, and evicts
    the entry, when the driving table's :func:`content_token` changed
    (fixture regenerated in place) or the entry belongs to another
    SparkSession (stopped session, fresh test session).
    """

    def __init__(self, table: str = "documents") -> None:
        self._table = table
        self._entry: tuple[str, str, tuple[DataFrame, ...]] | None = None

    def _drop(self) -> None:
        dfs = self._entry[2] if self._entry is not None else ()
        self._entry = None
        for df in dfs:
            try:
                df.unpersist()
            except Exception:
                pass  # dead session: blocks are already gone

    def get(
        self, spark: SparkSession, sf_dir: str
    ) -> tuple[DataFrame, ...] | None:
        if self._entry is None or self._entry[0] != sf_dir:
            return None
        _, token, dfs = self._entry
        if token != content_token(sf_dir, self._table) or any(
            df.sparkSession is not spark for df in dfs
        ):
            self._drop()
            return None
        return dfs

    def put(self, sf_dir: str, *dfs: DataFrame) -> tuple[DataFrame, ...]:
        self._drop()
        self._entry = (sf_dir, content_token(sf_dir, self._table), dfs)
        return dfs
