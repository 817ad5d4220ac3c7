"""Structured Streaming tests: stream-batch parity, stateful operator,
watermark late-data dropping."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row, functions as F

from mini_sql_engine_spark.streaming import windows as W


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_stream_tumbling_matches_batch(spark, sf_dir):
    streamed = W.stream_tumbling(spark, sf_dir)
    from mini_sql_engine_spark.operators.rollups import tumbling_window  # noqa: F401
    from mini_sql_engine_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )
    cols = ["hour_start", "event_type", "n_events", "sum_cents"]
    assert rows_set(streamed, cols) == rows_set(batch, cols)


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    streamed = W.stream_user_totals(spark, sf_dir)
    batch = W.batch_user_totals(spark, sf_dir)
    cols = ["user_id", "n_events", "total_cents"]
    assert rows_set(streamed, cols) == rows_set(batch, cols)


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than max(ts) - watermark must not update state."""
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_batch(rows, n):
        spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"b{n}")
        )

    # batch 1: events 10:00-12:30 → watermark advances to 11:30
    write_batch(
        [
            Row(ts="2024-03-01 10:15:00", event_type="click", value=1.0),
            Row(ts="2024-03-01 12:30:00", event_type="click", value=1.0),
        ],
        1,
    )
    schema = "ts string, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "n")
    )
    import uuid

    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time event and one LATE event (9:05 < 11:30 watermark)
        write_batch(
            [
                Row(ts="2024-03-01 12:45:00", event_type="click", value=1.0),
                Row(ts="2024-03-01 09:05:00", event_type="click", value=9.0),
            ],
            2,
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            batches = {r.h for r in spark.table(name).collect()}
            if "12:00" in batches:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = {r.h for r in spark.table(name).collect()}
    assert "09:00" not in out, f"late event leaked into state: {out}"
    assert {"10:00", "12:00"} <= out


@pytest.mark.parametrize("name", ["stream_tumbling_counts", "stream_stateful_user_totals"])
def test_stream_queries_registered(name):
    import __spark_entry__ as e

    assert name in e.queries() and name in e.oracle_sql()


def test_stream_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a deduplicating stream mid-run, restart it from the SAME
    checkpoint: the fault-tolerant file sink's commit log must make the
    final output exactly the batch DISTINCT — nothing lost from the
    killed run, nothing re-emitted by the recovered one (the
    exactly-once guarantee checkpointing exists for)."""
    import time as _t

    from mini_sql_engine_spark.catalog import load_table

    src = str(tmp_path / "src")
    keys = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    keys.repartition(6).write.parquet(src)
    expect = sorted(
        (r.user_id, r.event_type) for r in keys.distinct().collect()
    )

    chk = str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    schema = spark.read.parquet(src).schema

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.dropDuplicates(["user_id", "event_type"])
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )

    q1 = start()
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline and not q1.recentProgress:
            _t.sleep(0.2)
    finally:
        q1.stop()  # mid-run kill: some files processed, some not

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = sorted(
        (r.user_id, r.event_type)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == expect  # no loss, no duplicates across the restart


def test_foreachbatch_incremental_upsert(spark, tmp_path):
    """foreachBatch as a MERGE sink: each micro-batch upserts per-user
    totals into a versioned parquet state table (write v{batchId}, read
    the latest prior version) — re-processing a batch after a failure
    rewrites ITS version deterministically instead of double-counting,
    which is the idempotent-sink contract exactly-once relies on. The
    final state must equal the batch aggregate over all data."""
    import os as _os

    src = str(tmp_path / "src")
    _os.makedirs(src)
    rows1 = [Row(user_id=1, value=10.0), Row(user_id=2, value=5.0)]
    rows2 = [Row(user_id=1, value=7.0), Row(user_id=3, value=2.0)]
    spark.createDataFrame(rows1).coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(rows2).coalesce(1).write.parquet(f"{src}/b2")

    state_root = str(tmp_path / "state")
    _os.makedirs(state_root)

    def latest_version() -> int | None:
        vs = [int(d[1:]) for d in _os.listdir(state_root) if d.startswith("v")]
        return max(vs) if vs else None

    def upsert(batch_df, batch_id):
        agg = batch_df.groupBy("user_id").agg(
            F.sum("value").alias("total"), F.count(F.lit(1)).alias("n")
        )
        prev = latest_version()
        if prev is not None and prev < batch_id:
            old = spark.read.parquet(f"{state_root}/v{prev}")
            agg = (
                old.withColumnRenamed("total", "t0")
                .withColumnRenamed("n", "n0")
                .join(agg, "user_id", "full_outer")
                .select(
                    "user_id",
                    (F.coalesce("t0", F.lit(0.0)) + F.coalesce("total", F.lit(0.0))).alias("total"),
                    (F.coalesce("n0", F.lit(0)) + F.coalesce("n", F.lit(0))).alias("n"),
                )
            )
        agg.write.mode("overwrite").parquet(f"{state_root}/v{batch_id}")

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = stream.writeStream.foreachBatch(upsert).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = {
        r.user_id: (r.total, r.n)
        for r in spark.read.parquet(f"{state_root}/v{latest_version()}").collect()
    }
    assert final == {1: (17.0, 2), 2: (5.0, 1), 3: (2.0, 1)}


def test_transform_with_state_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (ValueState on RocksDB) must
    reproduce the batch per-user totals. Gated: the TWS state protocol
    needs protobuf, which this container lacks."""
    pytest.importorskip("google.protobuf")
    from mini_sql_engine_spark.streaming.windows import (
        batch_user_totals,
        stream_tws_user_totals,
    )

    got = {
        r.user_id: (r.n_events, r.total_cents)
        for r in stream_tws_user_totals(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_cents)
        for r in batch_user_totals(spark, sf_dir).collect()
    }
    assert got == want


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The production state-store config (RocksDB provider — state spills
    to local disk instead of living on the JVM heap, the setting every
    large-state production stream runs with) must produce byte-identical
    results to the default HDFS-backed in-memory provider. Exercises a
    watermarked windowed aggregation end-to-end under RocksDB."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)
    try:
        streamed = W.stream_tumbling(spark, sf_dir)
        from mini_sql_engine_spark.catalog import load_table

        batch = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).alias("sum_cents"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
                "event_type",
                "n_events",
                "sum_cents",
            )
        )
        cols = ["hour_start", "event_type", "n_events", "sum_cents"]
        assert rows_set(streamed, cols) == rows_set(batch, cols)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_native_upsert_sink_replay_is_exactly_once(spark, tmp_path):
    """The native-format MERGE sink (streaming/upsert.py) must be
    idempotent under foreachBatch's at-least-once replay: re-applying a
    batch id that is already inside the committed table is a no-op
    (the version sentinel commits atomically with the data in the
    single-file swap), while the next batch id still applies."""
    from mini_sql_engine_spark.streaming import upsert as U

    data_dir = str(tmp_path / "native")
    os.makedirs(data_dir)
    b0 = spark.createDataFrame(
        [Row(user_id=1, value=1.25), Row(user_id=2, value=2.0),
         Row(user_id=1, value=0.75)]
    )
    b1 = spark.createDataFrame([Row(user_id=2, value=3.5), Row(user_id=9, value=0.1)])

    def state():
        return {
            r.user_id: (r.n_events, r.total_cents)
            for r in U._read_state(spark, data_dir, "t")
            .filter(F.col("user_id") != U.SENTINEL_KEY)
            .collect()
        }

    U.merge_batch(b0, 0, data_dir, "t")
    assert U.last_applied_batch(spark, data_dir, "t") == 0
    after_b0 = state()
    assert after_b0 == {1: (2, 200), 2: (1, 200)}

    U.merge_batch(b0, 0, data_dir, "t")  # replayed batch: must not double-apply
    assert state() == after_b0
    assert U.last_applied_batch(spark, data_dir, "t") == 0

    U.merge_batch(b1, 1, data_dir, "t")
    assert U.last_applied_batch(spark, data_dir, "t") == 1
    assert state() == {1: (2, 200), 2: (2, 550), 9: (1, 10)}

    U.merge_batch(b1, 1, data_dir, "t")  # replay of the latest batch too
    assert state() == {1: (2, 200), 2: (2, 550), 9: (1, 10)}


def test_psi_merge_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch into the PSI state table must be a
    no-op: the in-table sentinel version gates the second apply, so
    the drained counts match a single application exactly."""
    import datetime as _dt

    from mini_sql_engine_spark.streaming.upsert import (
        _PSI_SENTINEL,
        _read_state,
        merge_psi_batch,
    )

    rows = [
        Row(ts=_dt.datetime(2024, 1, d), event_type="purchase", value=v)
        for d, v in [(3, 12.0), (20, 34.5), (21, 34.5), (4, 300.0)]
    ]
    batch = spark.createDataFrame(rows)
    data_dir = str(tmp_path / "psi_state")
    merge_psi_batch(batch, 0, data_dir, "psi_bins")
    once = {
        (r.bkey, r.n)
        for r in _read_state(spark, data_dir, "psi_bins").collect()
        if r.bkey != _PSI_SENTINEL
    }
    merge_psi_batch(batch, 0, data_dir, "psi_bins")  # replay same id
    twice = {
        (r.bkey, r.n)
        for r in _read_state(spark, data_dir, "psi_bins").collect()
        if r.bkey != _PSI_SENTINEL
    }
    assert once == twice and once, once
    merge_psi_batch(batch, 1, data_dir, "psi_bins")  # a real new batch
    applied = {
        (r.bkey, r.n)
        for r in _read_state(spark, data_dir, "psi_bins").collect()
        if r.bkey != _PSI_SENTINEL
    }
    assert applied == {(k, 2 * n) for k, n in once}, applied


def test_mg_merge_replay_and_summary_bound(spark, tmp_path):
    """Replaying a micro-batch into the Misra-Gries state is a no-op
    (sentinel version guard); the summary never exceeds MG_K counters;
    and after a decrementing merge every surviving counter is a LOWER
    bound on the token's true count (the one-sided error MG
    guarantees)."""
    from mini_sql_engine_spark.streaming.upsert import (
        _MG_SENTINEL,
        MG_K,
        _read_state,
        merge_mg_batch,
    )

    def counters(data_dir):
        return {
            r.tid: r.cnt
            for r in _read_state(spark, data_dir, "mg").collect()
            if r.tid != _MG_SENTINEL
        }

    # 100 distinct rare tokens + one hot token → forces decrements
    rows = [Row(doc_id=i, text=f"rare{i}") for i in range(100)]
    rows += [Row(doc_id=1000 + i, text="hot hot hot") for i in range(30)]
    batch = spark.createDataFrame(rows)
    data_dir = str(tmp_path / "mg_state")
    merge_mg_batch(batch, 0, data_dir, "mg")
    once = counters(data_dir)
    assert 0 < len(once) <= MG_K, len(once)
    merge_mg_batch(batch, 0, data_dir, "mg")  # replay same id
    assert counters(data_dir) == once
    merge_mg_batch(batch, 1, data_dir, "mg")  # real second batch
    twice = counters(data_dir)
    assert 0 < len(twice) <= MG_K
    from mini_sql_engine_spark.functions.hashing import md5_long

    hot_tid = spark.range(1).select(
        md5_long(F.lit("hot")).alias("h")
    ).collect()[0].h
    # true count of "hot" after 2 batches = 180; counter must be a
    # positive lower bound (decrements only ever subtract)
    assert 0 < twice[hot_tid] <= 180, twice.get(hot_tid)


def test_qsketch_merge_replay_and_bound(spark, tmp_path):
    """The quantile-sketch append sink must be exactly-once under
    replay (a re-applied batch id adds NO summary rows — duplicated
    summaries would silently double every weight and shift every
    estimate), and the accumulated gaps must sum to exactly the rows
    fed (the self-describing-n property the final certificate and the
    oracle both rely on)."""
    from mini_sql_engine_spark.streaming import upsert as U

    data_dir = str(tmp_path / "qsk")
    os.makedirs(data_dir)
    b0 = spark.createDataFrame(
        [Row(event_id=i, value=float(i % 7) + 0.25) for i in range(50)]
    )
    b1 = spark.createDataFrame(
        [Row(event_id=i, value=float(i % 3) + 1.5) for i in range(30)]
    )

    def gaps_total():
        return (
            U._read_state(spark, data_dir, "q")
            .filter(F.col("val") != U._QSK_SENTINEL)
            .agg(F.sum("g"))
            .collect()[0][0]
        )

    U.merge_qsketch_batch(b0, 0, data_dir, "q")
    assert gaps_total() == 50
    U.merge_qsketch_batch(b0, 0, data_dir, "q")  # replay: no-op
    assert gaps_total() == 50
    U.merge_qsketch_batch(b1, 1, data_dir, "q")
    assert gaps_total() == 80
    U.merge_qsketch_batch(b1, 1, data_dir, "q")  # replay of latest
    assert gaps_total() == 80
    # merged summary answers the median within the bound: exact check
    # over the fed values
    vals = sorted([(i % 7) * 100 + 25 for i in range(50)]
                  + [(i % 3) * 100 + 150 for i in range(30)])
    summ = (
        U._read_state(spark, data_dir, "q")
        .filter(F.col("val") != U._QSK_SENTINEL)
        .groupBy("val").agg(F.sum("g").alias("g"))
        .orderBy("val").collect()
    )
    t = len(vals) // 2
    cum = 0
    est = None
    for r in summ:
        cum += r.g
        if cum >= t:
            est = r.val
            break
    from mini_sql_engine_spark.operators.analytics import QSK_K

    slack = len(vals) // QSK_K + 2 * U.QSK_STREAM_P
    n_le = sum(1 for v in vals if v <= est)
    n_lt = sum(1 for v in vals if v < est)
    assert n_le >= t
    assert n_lt < t + slack


def _minisql_write_state(df, data_dir, table):
    """The Python-connector state write that ``_write_state`` replaced."""
    from mini_sql_engine_spark.sources import datasource

    datasource.register(df.sparkSession)
    (
        df.coalesce(1).write.format("minisql")
        .option("path", data_dir).option("table", table)
        .mode("overwrite").save()
    )


def _feed(spark, k):
    return spark.createDataFrame(
        [Row(user_id=(i * 7 + k) % 11, value=i * 0.37 + k) for i in range(40)]
    )


def test_merge_batch_state_matches_python_writer(spark, tmp_path, monkeypatch):
    """The JVM-written state table holds the same lines (as a set) and
    the same ``metadata.txt`` as the ``format("minisql")`` writer
    produces for the same frames, batch after batch."""
    from mini_sql_engine_spark.streaming import upsert as U

    jvm, py = str(tmp_path / "jvm"), str(tmp_path / "py")
    for b in range(3):
        U.merge_batch(_feed(spark, b), b, jvm, "t")
    monkeypatch.setattr(U, "_write_state", _minisql_write_state)
    for b in range(3):
        U.merge_batch(_feed(spark, b), b, py, "t")

    def lines(d):
        with open(os.path.join(d, "t.csv")) as fh:
            return fh.read().splitlines()

    assert len(lines(jvm)) == len(set(lines(jvm))) > 3
    assert set(lines(jvm)) == set(lines(py))
    with open(os.path.join(jvm, "metadata.txt")) as a, \
            open(os.path.join(py, "metadata.txt")) as b:
        assert a.read() == b.read()
    assert sorted(os.listdir(jvm)) == ["metadata.txt", "t.csv"]


def _state_snapshot(d):
    from pathlib import Path

    return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}


def test_write_state_failed_job_keeps_previous_table(spark, tmp_path):
    """A write job that fails in its task leaves the committed table
    byte-identical and no staging or merge file behind."""
    from mini_sql_engine_spark.streaming import upsert as U

    d = str(tmp_path)
    U.merge_batch(_feed(spark, 0), 0, d, "t")
    before = _state_snapshot(d)
    boom = spark.range(5).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") == 3, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).cast("long").alias("n_events"),
        F.col("id").alias("total_cents"),
    )
    with pytest.raises(Exception, match="boom"):
        U._write_state(boom, d, "t")
    assert _state_snapshot(d) == before


def test_write_state_refuses_non_integral_columns(spark, tmp_path):
    """The native format is integer-only: a ``double`` column is refused
    before anything is written (the Python writer's ``int(v)`` used to
    truncate it silently)."""
    from mini_sql_engine_spark.plans.dialect import EngineError
    from mini_sql_engine_spark.streaming import upsert as U

    d = str(tmp_path / "state")
    df = spark.range(3).selectExpr("id AS user_id", "CAST(id AS double) / 2 AS share")
    with pytest.raises(EngineError, match="integer-only.*share double"):
        U._write_state(df, d, "t")
    assert not os.path.exists(d)


def test_write_state_schema_mismatch_leaves_table_and_catalog(spark, tmp_path):
    """A column list that differs from the table's ``metadata.txt``
    entry raises; the table, the catalog and the directory are as
    before."""
    from mini_sql_engine_spark.plans.dialect import EngineError
    from mini_sql_engine_spark.streaming import upsert as U

    d = str(tmp_path)
    U.merge_batch(_feed(spark, 0), 0, d, "t")
    before = _state_snapshot(d)
    drifted = spark.range(3).selectExpr("id AS user_id", "id AS n_events")
    with pytest.raises(EngineError, match="schema mismatch"):
        U._write_state(drifted, d, "t")
    assert _state_snapshot(d) == before
