"""Streaming MERGE/upsert sink: foreachBatch into the native format.

Closes the loop between the streaming pack and the native format
(sources/datasource.py): a keyed running-totals table is maintained in
the reference's ``metadata.txt`` + single-CSV format by a per-micro-
batch MERGE, with an idempotent replay guard giving effectively-
exactly-once table state over foreachBatch's at-least-once contract.

Exactly-once mechanics: the table's commit version rides INSIDE the
table as a sentinel row (user_id = -1, n_events = last applied batch
id) — because the native format is one file swapped with a single
atomic ``os.replace`` (``datasource.commit_table``, the format's one
driver-side commit), the version and the data commit together. A
replayed batch (failure between sink write and checkpoint commit) sees
its own batch id already recorded and skips, so no delta is
double-applied; a crash mid-write leaves the previous table intact.
State is read and written by the JVM CSV reader and writer
(``_read_state``/``_write_state``); only that file commit is Python.

MERGE compiles to: per-batch partial aggregate (map-side combinable),
full-outer join against current state on the key, coalesce + add,
atomic overwrite. This is exactly what a lakehouse MERGE INTO does per
micro-batch; the single-file swap stands in for the transaction log.

Scale: per-batch work is one thin aggregate of the batch plus one join
against state keyed on user_id. The single-file native format caps
state size (compatibility export, like its batch writer); at 100 TB
the same foreachBatch body targets a bucketed/partitioned table format
(Iceberg/Delta) where the swap becomes a log commit — the operator
shape (delta agg → keyed merge → versioned atomic commit) is unchanged.

Money is carried in integer cents — floor(value*100 + 0.5) — both
because the native format is integer-only and because integer cents
make per-batch accumulation exactly associative (no float drift
between the N-batch streaming result and the one-shot batch oracle).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegralType

from mini_sql_engine_spark import oracle_shared
from mini_sql_engine_spark.functions.frames import jvm_empty, jvm_rows
from mini_sql_engine_spark.functions.hashing import md5_long
from mini_sql_engine_spark.plans.dialect import EngineError
from mini_sql_engine_spark.sources import datasource

STATE_COLS = ["user_id", "n_events", "total_cents"]
SENTINEL_KEY = -1  # user_id for the version row (real keys are >= 0)


def _enable_native_pushdown(spark: SparkSession) -> None:
    """Belt-and-braces for caller-owned sessions (e.g. the correctness
    driver's): enable Python-source filter pushdown BEFORE the stream
    starts so the foreachBatch sink's ``format("minisql")`` state reads
    can never trip Spark 4.1's ``DATA_SOURCE_PUSHDOWN_DISABLED`` —
    round 5's only failure class. The conf-gated reader in
    ``sources/datasource.py`` already makes this unnecessary, but the
    conf is a one-line runtime set and the microbatch session clone
    inherits it, so the defense costs nothing."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass


def _cents(col: str) -> F.Column:
    # floor(x*100 + 0.5): identical IEEE double ops on Spark and DuckDB,
    # unlike ROUND whose half-way tie rule differs across engines
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def _read_state(
    spark: SparkSession,
    data_dir: str,
    table: str,
    schema: str | None = None,
) -> DataFrame | None:
    """Read committed sketch state back from the native table.

    With ``schema`` given, reads the table's CSV file directly with the
    JVM CSV reader — the native format IS headerless CSV plus a catalog
    entry, and the caller of every merge sink already knows its state
    schema. This keeps the per-micro-batch fixed cost JVM-side: the
    ``format("minisql")`` path pays a Python planning worker per plan
    plus Python read workers per scan, which dominated the exactly-once
    demos' wall-clock at sf0.1 (the data itself is ≤ a few hundred
    rows). The connector's read path stays covered by the batch
    connector entries and the native tail/sink streams; this helper is
    about the STATE loop, whose contract is only "read back what the
    2PC writer committed"."""
    csv_path = os.path.join(data_dir, f"{table}.csv")
    if not os.path.exists(os.path.join(data_dir, "metadata.txt")):
        return None
    if schema is not None and os.path.exists(csv_path):
        # FAILFAST: a caller-schema/table mismatch must raise, not
        # silently truncate columns the way PERMISSIVE mode would
        return (
            spark.read.schema(schema)
            .option("mode", "FAILFAST")
            .csv(csv_path)
        )
    datasource.register(spark)
    return (
        spark.read.format("minisql")
        .option("path", data_dir)
        .option("table", table)
        .load()
    )


def _write_state(df: DataFrame, data_dir: str, table: str) -> None:
    """Overwrite a merge sink's state table with the JVM CSV writer.

    The native format is a headerless integer CSV plus a ``metadata.txt``
    entry — exactly what Spark's CSV writer emits for integral columns —
    so the write needs no Python worker: one ``coalesce(1)`` task (the
    format is one file; more tasks only mean more fragments to
    concatenate) writes a private staging directory, and
    ``datasource.commit_table`` moves its part file onto ``<table>.csv``
    with the same schema check, atomic ``os.replace`` and catalog entry
    as the ``format("minisql")`` writer. A failed job leaves the previous
    table untouched. Non-integral columns are refused up front: the
    format cannot hold them, and writing them would need a silent cast.
    """
    fields = df.schema.fields
    bad = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in fields
        if not isinstance(f.dataType, IntegralType)
    ]
    if bad:
        raise EngineError(
            f"state table {table!r} is integer-only, got: {', '.join(bad)}"
        )
    staging = os.path.join(data_dir, f".{table}.staging-{uuid.uuid4().hex[:8]}")
    try:
        df.coalesce(1).write.csv(staging)
        parts = sorted(f for f in os.listdir(staging) if f.startswith("part-"))
        datasource.commit_table(
            data_dir,
            table,
            [f.name for f in fields],
            [os.path.join(staging, f) for f in parts],
            overwrite=True,
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _state_and_guard(
    spark: SparkSession,
    data_dir: str,
    table: str,
    empty_schema: str,
    key_col: str,
    ver_col: str,
    sentinel_key: int,
) -> tuple[DataFrame, DataFrame]:
    """Split committed state into data rows + a 1-row version aggregate.

    Returns ``(cur, last1)`` where ``last1`` has the single column
    ``_last`` (NULL before the first commit). The replay guard is then
    applied IN-PLAN: the caller gates its delta on ``_last`` (broadcast
    1-row crossJoin) and rebuilds the sentinel as
    ``greatest(_last, batch_id)`` — so a replayed batch rewrites state
    UNCHANGED (delta gated to empty, version kept), which is exactly as
    idempotent as the old skip-the-write guard but costs zero extra
    Spark jobs. The old shape (localCheckpoint to share the state scan
    + a driver collect of the sentinel) paid 3 job round-trips per
    micro-batch; this shape pays 1 (the write), with the state file
    read twice inside it — the dominant cost of the four exactly-once
    demos at sf0.1 was that fixed job overhead, not data volume."""
    state = _read_state(spark, data_dir, table, schema=empty_schema)
    if state is None:
        cur = jvm_empty(spark, empty_schema)
        last1 = spark.range(1).select(
            F.lit(None).cast("long").alias("_last")
        )
    else:
        cur = state.filter(F.col(key_col) != sentinel_key)
        last1 = state.filter(F.col(key_col) == sentinel_key).agg(
            F.max(ver_col).cast("long").alias("_last")
        )
    return cur, last1


def _gate_delta(delta: DataFrame, last1: DataFrame, batch_id: int) -> DataFrame:
    """Filter a batch delta to empty when the batch is a replay."""
    return (
        delta.crossJoin(F.broadcast(last1))
        .filter(
            F.col("_last").isNull() | (F.lit(int(batch_id)) > F.col("_last"))
        )
        .drop("_last")
    )


def _next_version(batch_id: int) -> F.Column:
    """In-plan new sentinel version (selected FROM the last1 row):
    greatest(committed, this batch)."""
    return F.greatest(
        F.coalesce(F.col("_last"), F.lit(-1).cast("long")),
        F.lit(int(batch_id)).cast("long"),
    )


def last_applied_batch(spark: SparkSession, data_dir: str, table: str) -> int:
    """Version of the current committed state (-1 if no table yet)."""
    state = _read_state(spark, data_dir, table)
    if state is None:
        return -1
    row = (
        state.filter(F.col("user_id") == SENTINEL_KEY)
        .agg(F.max("n_events"))
        .collect()[0][0]
    )  # scalar control value, never data
    return -1 if row is None else int(row)


def merge_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: MERGE this batch's per-user deltas into the
    native-format state table, idempotently.

    The state read happens in the write job's tasks, which all finish
    before ``_write_state``'s driver-side commit swaps the file — so
    reading and overwriting the same table in one MERGE is safe (and a
    crash at any point leaves the previous version readable). The
    replay guard runs IN-PLAN (`_gate_delta`): a replayed batch rewrites
    state unchanged — idempotent, and one write job per batch instead
    of the old checkpoint-collect-write three.
    """
    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark,
        data_dir,
        table,
        "user_id long, n_events long, total_cents long",
        "user_id",
        "n_events",
        SENTINEL_KEY,
    )
    delta = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("d_n"), F.sum(_cents("value")).alias("d_cents")
    )
    delta = _gate_delta(delta, last1, batch_id)
    merged = (
        cur.join(delta, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                "n_events"
            ),
            (
                F.coalesce("total_cents", F.lit(0)) + F.coalesce("d_cents", F.lit(0))
            ).alias("total_cents"),
        )
    )
    sentinel = last1.select(
        F.lit(SENTINEL_KEY).cast("long").alias("user_id"),
        _next_version(batch_id).alias("n_events"),
        F.lit(0).cast("long").alias("total_cents"),
    )
    _write_state(merged.unionByName(sentinel), data_dir, table)


def _multi_file_events(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    cols: tuple[str, ...] = ("event_id", "user_id", "value"),
    schema: str = "event_id long, user_id long, value double",
    files_per_trigger: int = 2,
) -> DataFrame:
    """readStream over a thin column subset of events staged as
    n_files parquet files, so maxFilesPerTrigger=files_per_trigger
    yields n_files/files_per_trigger distinct micro-batches (the
    single testdata file would give one batch — no incremental
    behavior to observe). Two files per trigger is the default: the
    demos still exercise a multi-commit incremental MERGE (2 commits),
    but each exactly-once commit's fixed cost (trigger planning,
    native-writer 2PC, state re-read) is paid half as often — the
    four state demos were ~9% of the whole bench and the cost was
    commit count, not data volume. Staged once per (sf_dir, cols);
    the atomic directory rename makes concurrent stagers safe."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    digest = hashlib.md5(
        f"{sf_dir}|{n_files}|{','.join(cols)}".encode()
    ).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"events_upsert_{digest}")
    if not os.path.exists(stage):
        from mini_sql_engine_spark.catalog import load_table

        tmp = stage + f".tmp-{os.getpid()}"
        # stage through the catalog loader: events.ts normalizes to
        # session-zoned µs TimestampType regardless of the parquet
        # generation's physical type (raw reads flip between
        # TIMESTAMP_NTZ and nanos-as-long across generations)
        (
            load_table(spark, sf_dir, "events")
            .select(*cols)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, stage)
        except OSError:  # lost the race: another process staged it first
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage)
    )


def run_upsert_stream(
    spark: SparkSession,
    sf_dir: str,
    data_dir: str,
    table: str = "user_totals",
    n_files: int = 4,
) -> None:
    """Run the events stream to completion, merging every micro-batch
    into the native-format state table at data_dir."""
    chk = tempfile.mkdtemp(prefix=f"chk_upsert_{table}_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            _multi_file_events(spark, sf_dir, n_files)
            .writeStream.foreachBatch(
                lambda df, bid: merge_batch(df, bid, data_dir, table)
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def stream_upsert_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream events through multiple exactly-
    once micro-batch commits of the foreachBatch MERGE sink, then read the final native-format
    table back. Equals the one-shot batch aggregate (the DuckDB
    oracle) because integer-cent deltas accumulate associatively."""
    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_upsert_")
    run_upsert_stream(spark, sf_dir, data_dir)
    state = _read_state(spark, data_dir, "user_totals",
                        schema="user_id long, n_events long, total_cents long")
    return state.filter(F.col("user_id") != SENTINEL_KEY).select(
        "user_id", "n_events", "total_cents"
    )


# Deterministic thinning of the staged tail feed: keep 1 event in 4.
# The demo exercises the native loop (2PC export -> byte-offset
# streaming tail -> stateful agg); its cost should be the machinery,
# not the row volume — the export's per-row Python writer and the
# tail's per-batch Python parse both scale linearly with the feed, and
# at bench scale the full feed made this the slowest registered query
# (round-5 verdict). The oracle filters identically, so correctness is
# unchanged at every scale factor.
_TAIL_FEED_MOD = 4


def _stage_native_events(spark: SparkSession, sf_dir: str) -> str:
    """One-time export of a thin integer events feed into the native
    metadata.txt + CSV format (via the two-phase-commit writer), so the
    streaming tail reader has a real native table to follow. Staged per
    sf_dir under an atomic directory rename. The cache key carries a
    version so a feed-definition change can never reuse a stale
    export."""
    digest = hashlib.md5(
        f"tail|v3mod{_TAIL_FEED_MOD}|{sf_dir}".encode()
    ).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"native_tail_{digest}")
    if not os.path.exists(os.path.join(stage, "metadata.txt")):
        from mini_sql_engine_spark.catalog import load_table

        tmp = stage + f".tmp-{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        # load through the catalog so events.ts normalizes to µs
        # TimestampType under any parquet generation; the native
        # format is integer-only, so time rides as unix micros
        feed = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % _TAIL_FEED_MOD == 0)
            .select(
                "event_id",
                "user_id",
                _cents("value").alias("cents"),
                F.unix_micros("ts").alias("ts_us"),
            )
        )
        datasource.register(spark)
        (
            feed.write.format("minisql")
            .option("path", tmp)
            .option("table", "events_feed")
            .mode("overwrite")
            .save()
        )
        try:
            os.rename(tmp, stage)
        except OSError:  # lost the staging race; the winner's copy is equal
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return stage


def stream_native_sink_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER half of the native streaming loop: a parquet stream
    written exactly-once through the connector's first-class streaming
    SINK — ``writeStream.format("minisql")`` with the truncation-based
    idempotent commit (`MiniSQLStreamWriter`) — then the committed
    table is read back through the batch reader and aggregated.
    Unlike the foreachBatch MERGE demos, nothing here is hand-rolled:
    Spark's own sink protocol (write → WriterCommitMessage →
    commit(batchId)) carries the exactly-once contract. The feed is
    thinned (event_id % MOD == 0) like the tail demos; the oracle
    aggregates the identically-thinned events, so a dropped or doubled
    micro-batch breaks the hash.

    Scale notes (100 TB): per-batch cost is fragment IO + one
    driver-side merge — the single-file format's inherent bottleneck
    (same as the batch writer); a real table format would commit
    fragment manifests instead. State in the STREAM is zero (stateless
    passthrough); exactly-once lives entirely in the sink's commit
    log."""
    import tempfile

    from mini_sql_engine_spark.catalog import load_table

    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_sink_")
    chk = tempfile.mkdtemp(prefix="chk_sink_")
    datasource.register(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            _multi_file_events(spark, sf_dir)
            .filter(F.col("event_id") % _TAIL_FEED_MOD == 0)
            .select("event_id", "user_id", _cents("value").alias("cents"))
            .coalesce(2)
            .writeStream.format("minisql")
            .option("path", data_dir)
            .option("table", "sink_feed")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    back = (
        spark.read.format("minisql")
        .option("path", data_dir)
        .option("table", "sink_feed")
        .load()
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )


def stream_native_tail_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the native-format table through the connector's tail
    reader (byte-offset micro-batches) into a per-user aggregate —
    the full sources↔streaming loop: parquet → native export (2-phase
    writer) → streaming tail → stateful agg. Oracled against the
    one-shot batch aggregate over the original events."""
    from mini_sql_engine_spark.streaming.windows import stream_to_df

    data_dir = _stage_native_events(spark, sf_dir)
    datasource.register(spark)
    stream = (
        spark.readStream.format("minisql")
        .option("path", data_dir)
        .option("table", "events_feed")
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("total_cents")
    )
    return stream_to_df(spark, agg, "complete")


def stream_native_tail_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over the NATIVE tail stream: `session_window`
    with a 1-hour inactivity gap on event time reconstructed from the
    integer-only native feed (time rides as unix micros in the CSV;
    `timestamp_micros` restores the µs TimestampType the watermark
    needs). Completes the native-loop story: the byte-offset tail
    reader's micro-batches hit a MERGING stateful operator — unlike
    the keyed totals, session windows must coalesce when a later batch
    bridges two previously-open sessions. Oracled by the same
    gaps-and-islands SQL as the parquet session streams, on the
    thinned feed.

    Scale notes (100 TB): state is open sessions only (closed sessions
    evict once the watermark passes end + gap); the shuffle keys on
    user_id, identical to the parquet-source session stream — the
    source swap changes no state or shuffle shape."""
    from mini_sql_engine_spark.streaming.windows import stream_to_df

    data_dir = _stage_native_events(spark, sf_dir)
    datasource.register(spark)
    stream = (
        spark.readStream.format("minisql")
        .option("path", data_dir)
        .option("table", "events_feed")
        .load()
    )
    agg = (
        stream.select(
            "user_id", F.timestamp_micros("ts_us").alias("ts"), "cents"
        )
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("sess_start_s"),
            "n_events",
            "sum_cents",
        )
    )
    return stream_to_df(spark, agg, "complete")


_BM_SENTINEL = -1  # tid of the replay-guard row in the bitmap state


def merge_bitmap_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: OR this batch's (type-hash, chunk) user
    bitmaps into the native-format state table, idempotently (same
    sentinel replay guard as `merge_batch`). Bitwise OR is the whole
    trick: it is associative, commutative AND idempotent, so replays
    and partial re-merges can never overcount — the property exact
    streaming COUNT(DISTINCT) needs and plain counters lack. Replay
    guard runs in-plan (`_gate_delta`) — and OR-idempotence means even
    an ungated replay could not overcount; the guard just keeps the
    version ledger exact."""
    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark,
        data_dir,
        table,
        "tid long, chunk long, mask long",
        "tid",
        "chunk",
        _BM_SENTINEL,
    )
    delta = (
        batch_df.select(
            md5_long(F.col("event_type")).alias("tid"),
            F.floor(F.col("user_id") / 32).cast("long").alias("chunk"),
            (F.col("user_id") % 32).cast("int").alias("bit"),
        )
        .groupBy("tid", "chunk")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias(
                "d_mask"
            )
        )
    )
    delta = _gate_delta(delta, last1, batch_id)
    merged = cur.join(delta, ["tid", "chunk"], "full_outer").select(
        "tid",
        "chunk",
        F.coalesce("mask", F.lit(0))
        .bitwiseOR(F.coalesce("d_mask", F.lit(0)))
        .alias("mask"),
    )
    sentinel = last1.select(
        F.lit(_BM_SENTINEL).cast("long").alias("tid"),
        _next_version(batch_id).alias("chunk"),
        F.lit(0).cast("long").alias("mask"),
    )
    _write_state(merged.unionByName(sentinel), data_dir, table)


def stream_bitmap_distinct_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming EXACT COUNT(DISTINCT) — the aggregation streaming
    engines usually refuse (state would be member-sized) — made
    incremental with the 32-bit chunk bitmaps of
    `ext_bitmap_distinct`: each micro-batch ORs its masks into a
    native-format state table via foreachBatch; the final read folds
    masks to counts. State is ceil(id_space/32) longs per type —
    bounded, mergeable, replay-idempotent. Equals the one-shot batch
    COUNT(DISTINCT) (the DuckDB oracle) exactly.

    Type names ride as 60-bit hashes in the integer-typed native
    table and are joined back from the (tiny) type dictionary at
    read time.
    """
    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_bitmap_")
    chk = tempfile.mkdtemp(prefix="chk_bitmap_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # 4: JVM merge ladder, see stream_to_df
    try:
        q = (
            _multi_file_events(
                spark,
                sf_dir,
                cols=("user_id", "event_type"),
                schema="user_id long, event_type string",
            )
            .writeStream.foreachBatch(
                lambda df, bid: merge_bitmap_batch(
                    df, bid, data_dir, "type_bitmaps"
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    state = _read_state(spark, data_dir, "type_bitmaps",
                        schema="tid long, chunk long, mask long")
    counts = (
        state.filter(F.col("tid") != _BM_SENTINEL)
        .groupBy("tid")
        .agg(F.sum(F.bit_count("mask")).alias("n_distinct_users"))
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    types = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("event_type")
        .distinct()
        .select(
            md5_long(F.col("event_type")).alias("tid"), "event_type"
        )
    )
    return counts.join(F.broadcast(types), "tid").select(
        "event_type", "n_distinct_users"
    )


_PSI_SENTINEL = -1  # bkey of the version row


def merge_psi_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body for the drift monitor: MERGE this batch's
    (bin, half) purchase counts into the native state table with the
    same in-table version sentinel replay guard as `merge_batch`.
    bkey = bin·2 + early packs the composite key into the integer-only
    native format. Replay guard runs in-plan (`_gate_delta`)."""
    from mini_sql_engine_spark.oracle_shared import (
        PSI_BIN_CENTS,
        PSI_BINS,
    )

    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark, data_dir, table, "bkey long, n long", "bkey", "n", _PSI_SENTINEL
    )
    # the staged feed goes through catalog.load_table, so ts is the
    # normalized session-zoned timestamp — same day-of-month as batch
    dom = F.dayofmonth("ts")
    delta = (
        batch_df.filter(F.col("event_type") == "purchase")
        .select(
            (
                F.least(
                    F.floor(
                        F.floor(F.col("value") * 100 + 0.5) / PSI_BIN_CENTS
                    ),
                    F.lit(PSI_BINS - 1),
                ).cast("long")
                * 2
                + (dom <= 15).cast("long")
            ).alias("bkey")
        )
        .groupBy("bkey")
        .agg(F.count(F.lit(1)).alias("d_n"))
    )
    delta = _gate_delta(delta, last1, batch_id)
    merged = cur.join(delta, "bkey", "full_outer").select(
        "bkey",
        (F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n"),
    )
    sentinel = last1.select(
        F.lit(_PSI_SENTINEL).cast("long").alias("bkey"),
        _next_version(batch_id).alias("n"),
    )
    _write_state(merged.unionByName(sentinel), data_dir, table)


def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING twin of `ext_psi_drift`: the (bin, half)
    purchase counts accumulate across micro-batches through the
    versioned foreachBatch MERGE, and the final PSI readout runs the
    batch operator's own arithmetic (`analytics.psi_readout`) over the
    drained state — so the monitor that pages an on-call at 3am is
    provably the same number the batch audit would compute. Oracle:
    identical to the batch PSI (after a full drain the merged counts
    equal the one-shot batch counts exactly; integer count MERGE is
    associative and the replay guard makes it idempotent).

    Scale notes (100 TB): per-batch work is one thin (bin, half)
    aggregate (bounded by 2·PSI_BINS keys) + a merge against a
    constant-size state table — the cheapest possible exactly-once
    monitor; the readout cost is the batch operator's.
    """
    from mini_sql_engine_spark.operators.analytics import psi_readout

    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_psi_")
    chk = tempfile.mkdtemp(prefix="chk_psi_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # 4: JVM merge ladder, see stream_to_df
    try:
        q = (
            _multi_file_events(
                spark,
                sf_dir,
                cols=("ts", "event_type", "value"),
                schema="ts timestamp, event_type string, value double",
            )
            .writeStream.foreachBatch(
                lambda df, bid: merge_psi_batch(df, bid, data_dir, "psi_bins")
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    state = _read_state(spark, data_dir, "psi_bins",
                        schema="bkey long, n long")
    per_bin = (
        state.filter(F.col("bkey") != _PSI_SENTINEL)
        .select(
            (F.col("bkey") / 2).cast("long").alias("bin"),
            (F.col("bkey") % 2 == 1).alias("early"),
            "n",
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("early"), F.col("n")).otherwise(0)).alias(
                "n_early"
            ),
            F.sum(F.when(F.col("early"), 0).otherwise(F.col("n"))).alias(
                "n_late"
            ),
        )
    )
    return psi_readout(per_bin)


_MG_SENTINEL = -1  # tid of the version row (real tids are 60-bit hashes)
MG_K = 64  # Misra-Gries counters kept in state
MG_THRESH = 50  # heavy hitter: exact count · MG_THRESH > corpus tokens


def _multi_file_docs(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    files_per_trigger: int = 2,
) -> DataFrame:
    """readStream over documents text staged as n_files parquet files
    (two files per trigger → 2 micro-batches: still a real multi-commit
    MG merge, half the fixed per-commit cost; the single testdata file
    would collapse to one batch and exercise no merging)."""
    digest = hashlib.md5(f"docs|{sf_dir}|{n_files}".encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"docs_mg_{digest}")
    if not os.path.exists(stage):
        from mini_sql_engine_spark.catalog import load_table

        tmp = stage + f".tmp-{os.getpid()}"
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, stage)
        except OSError:  # lost the race: another process staged it first
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage)
    )


def merge_mg_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: merge this batch's token counts into the
    Misra-Gries counter state (Agarwal et al., Mergeable Summaries):
    combine counters, then subtract the (MG_K+1)-th largest counter
    value from all and drop the non-positive — total decrement across
    every merge is bounded by N/(MG_K+1), so any token with true
    frequency above that KEEPS a positive counter. Idempotent via the
    same in-table version sentinel as the other native-state sinks,
    applied in-plan (`_gate_delta`): a replayed batch contributes an
    empty delta, the decrement value is 0 (≤ MG_K counters survive, so
    no (MG_K+1)-th row exists), and state rewrites unchanged."""
    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark, data_dir, table, "tid long, cnt long", "tid", "cnt", _MG_SENTINEL
    )
    delta = (
        batch_df.select(
            F.explode(F.split("text", r"\s+")).alias("token")
        )
        .select(md5_long(F.col("token")).alias("tid"))
        .groupBy("tid")
        .agg(F.count(F.lit(1)).alias("d_cnt"))
    )
    delta = _gate_delta(delta, last1, batch_id)
    merged = cur.join(delta, "tid", "full_outer").select(
        "tid",
        (
            F.coalesce("cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))
        ).alias("cnt"),
    ).localCheckpoint(eager=False)  # two consumers, one merge compute
    # the decrement value: the (MG_K+1)-th largest counter (0 when the
    # summary still fits). orderBy().limit() plans as
    # TakeOrderedAndProject — a per-partition partial top-(K+1) merged
    # on the driver — instead of the old row_number() global window,
    # which funnelled the whole vocab-sized merge through ONE
    # partition's sort just to read a single rank.
    topk1 = merged.orderBy(F.col("cnt").desc(), "tid").limit(MG_K + 1)
    dec = topk1.agg(
        F.when(F.count(F.lit(1)) == MG_K + 1, F.min("cnt"))
        .otherwise(F.lit(0))
        .alias("v")
    )
    pruned = (
        merged.crossJoin(F.broadcast(dec))
        .select("tid", (F.col("cnt") - F.col("v")).alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    sentinel = last1.select(
        F.lit(_MG_SENTINEL).cast("long").alias("tid"),
        _next_version(batch_id).alias("cnt"),
    )
    _write_state(pruned.unionByName(sentinel), data_dir, table)


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters with an EXACT answer: a Misra-Gries
    summary (MG_K counters, bounded state) accumulates over the
    document stream via the versioned foreachBatch MERGE, then the
    surviving candidate set — which the MG merge bound PROVES contains
    every token with frequency > N/(MG_K+1) — is exactly recounted in
    one batch pass. Tokens above the 1/MG_THRESH support threshold
    (> N/(MG_K+1) by construction, so none can be missed) emerge with
    their exact counts: the sketch is invisible in the output, which
    is why a plain SQL frequency query can oracle it. The streaming
    twin of ext_text_heavy_hitters' bounded-communication certificate
    design.

    Scale notes (100 TB): state is MG_K counters — O(1), independent
    of stream length and vocabulary; each micro-batch pays one
    map-side-combined token count plus a MG_K-row merge. The final
    recount semi-joins the corpus against ≤ MG_K broadcast candidate
    hashes. This is THE frequent-items pattern when the stream cannot
    hold a per-token state table.
    """
    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_mg_")
    chk = tempfile.mkdtemp(prefix="chk_mg_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            _multi_file_docs(spark, sf_dir)
            .writeStream.foreachBatch(
                lambda df, bid: merge_mg_batch(df, bid, data_dir, "mg_counters")
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    from mini_sql_engine_spark.catalog import load_table

    candidates = (
        _read_state(spark, data_dir, "mg_counters", schema="tid long, cnt long")
        .filter(F.col("tid") != _MG_SENTINEL)
        .select("tid")
    )
    # ONE corpus pass: the map-side-combined token count is vocab-sized,
    # so both the corpus total and the candidate counts read from it —
    # the old shape exploded the corpus twice (total + recount)
    tokc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # two consumers, one corpus scan
    )
    n_tok = tokc.agg(F.sum("cnt").alias("n"))
    counts = (
        tokc.withColumn("tid", md5_long(F.col("token")))
        .join(F.broadcast(candidates), "tid", "left_semi")
        .select("token", "cnt")
    )
    return (
        counts.crossJoin(F.broadcast(n_tok))
        .filter(F.col("cnt") * MG_THRESH > F.col("n"))
        .select(
            "token",
            "cnt",
            F.floor(
                F.col("cnt").cast("double") * 1_000_000 / F.col("n").cast("double")
            )
            .cast("long")
            .alias("ppm"),
        )
    )


QUERIES: dict[str, Callable] = {
    "stream_psi_drift": stream_psi_drift,
    "stream_heavy_hitters": stream_heavy_hitters,
    "stream_upsert_totals": stream_upsert_user_totals,
    "stream_native_tail": stream_native_tail_totals,
    "stream_native_sink_totals": stream_native_sink_totals,
    "stream_native_tail_sessions": stream_native_tail_sessions,
    "stream_bitmap_distinct": stream_bitmap_distinct_counts,
}

_USER_TOTALS_SQL = """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
"""

ORACLES: dict[str, str] = {
    # same batch truth, two different streaming computation paths:
    # foreachBatch MERGE state vs native-format tail replay
    "stream_upsert_totals": _USER_TOTALS_SQL,
    # exact twin of the batch monitor — a full drain reproduces the
    # one-shot counts, so the oracle IS the batch PSI oracle
    "stream_psi_drift": oracle_shared.PSI_DRIFT_ORACLE,
    # the tail feed is deterministically thinned (event_id % MOD = 0,
    # see _TAIL_FEED_MOD) — the oracle filters identically
    # same thinned-feed totals through the first-class streaming SINK
    "stream_native_sink_totals": _USER_TOTALS_SQL.replace(
        "FROM events", f"FROM events WHERE event_id % {_TAIL_FEED_MOD} = 0"
    ),
    "stream_native_tail": _USER_TOTALS_SQL.replace(
        "FROM events", f"FROM events WHERE event_id % {_TAIL_FEED_MOD} = 0"
    ),
    # gaps-and-islands sessionization (same shape as the parquet
    # session streams' shared oracle) on the thinned tail feed; the
    # feed carries time as unix micros, so the oracle truncates ts to
    # µs the same way
    "stream_native_tail_sessions": f"""
        WITH e AS (
            SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events WHERE event_id % {_TAIL_FEED_MOD} = 0),
        marked AS (
            SELECT user_id, ts, cents,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '1 hour'
                        THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts, cents,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
        )
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS sess_start_s,
               COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM sess GROUP BY user_id, sess_id
    """,
    "stream_bitmap_distinct": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_distinct_users
        FROM events GROUP BY event_type
    """,
    # the MG guarantee makes the sketch invisible: candidates provably
    # cover every token above the support threshold, and the final
    # exact recount filters to precisely the frequency query below
    "stream_heavy_hitters": f"""
        WITH tok AS (
            SELECT UNNEST(string_split_regex(text, '\\s+')) AS token
            FROM documents),
        n AS (SELECT COUNT(*) AS n FROM tok)
        SELECT token, COUNT(*) AS cnt,
               CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) * 1000000
                          / CAST(n AS DOUBLE)) AS BIGINT) AS ppm
        FROM tok CROSS JOIN n
        GROUP BY token, n
        HAVING COUNT(*) * {MG_THRESH} > n
    """,
}


# ---------------------------------------------------------------------------
# Streaming mergeable quantile sketch — the property that makes a
# summary a SKETCH (merge = union of summaries) demonstrated through
# the exactly-once machinery: each micro-batch compacts its partitions
# to K-point order-statistic summaries and APPENDS them to the native
# state table (gated by the replay sentinel); the final read merges
# the constant-size state and certifies every target quantile with
# exact in-plan counts, exactly like batch `ext_quantile_sketch`. The
# rank-error bound simply gains the batch factor: each (batch,
# partition) contributes max-gap ceil(n_bp/K), and with B batches of P
# partitions the sum telescopes to floor(n/K) + B*P.
# ---------------------------------------------------------------------------

QSK_STREAM_P = 8  # per-batch summarize partitions (part of the bound)
QSK_STREAM_B = 2  # micro-batches: 4 staged files / 2 per trigger
_QSK_SENTINEL = -1  # val of the version row (real cents are >= 1)


def _qsk_summarize(batches):
    """Per-partition compaction to <= QSK_K evenly-spaced order
    statistics with local rank gaps (shared constant with the batch
    sketch so the bounds stay coupled)."""
    import numpy as np
    import pandas as pd

    from mini_sql_engine_spark.oracle_shared import QSK_K

    vals = [pdf["cents"].to_numpy(np.int64) for pdf in batches]
    v = np.sort(np.concatenate(vals)) if vals else np.empty(0, np.int64)
    n = len(v)
    out = {"val": [], "g": []}
    prev = 0
    for i in range(1, QSK_K + 1):
        r = -(-i * n // QSK_K)  # ceil(i*n/K)
        if r > prev:
            out["val"].append(int(v[r - 1]))
            out["g"].append(r - prev)
            prev = r
    yield pd.DataFrame(out)


def merge_qsketch_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: append this batch's partition summaries to
    the sketch state (replay-gated). Merge IS union for a mergeable
    summary — no keyed join, no recompaction, state stays <= B*P*K
    rows by construction."""
    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark, data_dir, table, "val long, g long", "val", "g",
        _QSK_SENTINEL,
    )
    # coalesce, not repartition: the bound only needs the partition
    # count CAPPED at QSK_STREAM_P (fewer partitions = tighter actual
    # error, bound still an upper bound), and coalesce does that with
    # NO shuffle — the summaries don't care which rows share a
    # partition. The per-batch shuffle was ~40% of the replay cost.
    pts = batch_df.select(_cents("value").alias("cents")).coalesce(
        QSK_STREAM_P
    )
    delta = _gate_delta(
        pts.mapInPandas(_qsk_summarize, "val long, g long"),
        last1,
        batch_id,
    )
    sentinel = last1.select(
        F.lit(_QSK_SENTINEL).cast("long").alias("val"),
        _next_version(batch_id).alias("g"),
    )
    _write_state(cur.unionByName(delta).unionByName(sentinel), data_dir, table)


def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING twin of `ext_quantile_sketch`: partition
    summaries accumulate across micro-batch commits in the native
    state table; the final merged summary answers the target grid
    with the certified bound floor(n/K) + B*P (B = QSK_STREAM_B
    batches, P = QSK_STREAM_P partitions per batch). Oracle recomputes
    n and the bound from events and expects true/true."""
    from mini_sql_engine_spark.oracle_shared import (
        QSK_K,
        QSK_TARGETS,
    )

    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_qsk_")
    chk = tempfile.mkdtemp(prefix="chk_qsk_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # 4: JVM merge ladder, see stream_to_df
    try:
        q = (
            _multi_file_events(spark, sf_dir)
            .writeStream.foreachBatch(
                lambda df, bid: merge_qsketch_batch(
                    df, bid, data_dir, "qsk_state"
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    state = _read_state(spark, data_dir, "qsk_state", schema="val long, g long")
    summ = (
        state.filter(F.col("val") != _QSK_SENTINEL)
        .groupBy("val")
        .agg(F.sum("g").alias("g"))
        .localCheckpoint(eager=False)  # feeds the ladder AND n below
    )
    # bounded-summary window: the merged sketch is <= B*P*K rows BY
    # CONSTRUCTION (constant in data scale), so the prefix sum runs as
    # a single-partition window over the summary — the same bounded
    # exception range_prefix itself uses for its per-partition offset
    # grid, and ~1 s cheaper than the full range-partitioned ladder
    from pyspark.sql import Window

    # bounded global window: sketch summary, <= B*P*K rows (above)
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ladder = summ.coalesce(1).select(
        "val", F.sum("g").over(w).alias("cum_g")
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from mini_sql_engine_spark.catalog import load_table

    base = load_table(spark, sf_dir, "events").select(
        _cents("value").alias("cents")
    )
    # the sketch is self-describing: every feed row lands in exactly
    # one summary gap (replays are gated), so n = sum of gaps — no
    # second scan of the source for the row count
    n1 = summ.agg(F.sum("g").cast("long").alias("n"))
    targets = (
        jvm_rows(spark, [(qq,) for qq in QSK_TARGETS], "q_ppm long")
        .crossJoin(F.broadcast(n1))
        .select(
            "q_ppm",
            "n",
            F.greatest(
                F.floor(F.col("q_ppm") * F.col("n") / 1_000_000), F.lit(1)
            )
            .cast("long")
            .alias("t"),
        )
    )
    ests = (
        F.broadcast(targets)
        .join(ladder, F.col("cum_g") >= F.col("t"))
        .groupBy("q_ppm", "n", "t")
        .agg(F.min("val").alias("est"))
    )
    certify = base.crossJoin(F.broadcast(ests)).groupBy(
        "q_ppm", "n", "t"
    ).agg(
        F.sum(F.when(F.col("cents") <= F.col("est"), 1).otherwise(0)).alias(
            "_le"
        ),
        F.sum(F.when(F.col("cents") < F.col("est"), 1).otherwise(0)).alias(
            "_lt"
        ),
    )
    slack = (
        F.floor(F.col("n") / QSK_K) + QSK_STREAM_B * QSK_STREAM_P
    ).cast("long")
    return certify.select(
        "q_ppm",
        F.col("n").alias("n_rows"),
        slack.alias("slack"),
        (F.col("_le") >= F.col("t")).alias("ok_hi"),
        (F.col("_lt") < F.col("t") + slack).alias("ok_lo"),
    )


QUERIES["stream_quantile_sketch"] = stream_quantile_sketch


def _qsk_stream_oracle() -> str:
    from mini_sql_engine_spark.oracle_shared import QSK_K, QSK_TARGETS

    return f"""
        WITH n1 AS (SELECT COUNT(*) AS n FROM events)
        SELECT CAST(q.q_ppm AS BIGINT) AS q_ppm, n1.n AS n_rows,
               CAST(floor(n1.n / {QSK_K})
                    + {QSK_STREAM_B * QSK_STREAM_P} AS BIGINT) AS slack,
               TRUE AS ok_hi, TRUE AS ok_lo
        FROM (VALUES {", ".join(f"({q})" for q in QSK_TARGETS)}) q(q_ppm)
        CROSS JOIN n1
    """


ORACLES["stream_quantile_sketch"] = _qsk_stream_oracle()


# ---------------------------------------------------------------------------
# Streaming KMV (k-minimum-values) distinct-count sketch — the fourth
# mergeable summary on the exactly-once native-state machinery (after
# the bitmap exact-distinct, Misra-Gries heavy hitters, and quantile
# summaries). KMV (Bar-Yossef et al. 2002, "Counting Distinct Elements
# in a Data Stream") keeps the K smallest hash values seen; merge IS
# "K smallest of the union", so replays and partial re-merges are
# harmless, and the estimator (K-1) * H / h_K (H = hash domain) is a
# deterministic function of deterministic md5 hashes — which is what
# lets a plain SQL oracle reproduce the ESTIMATE bit-for-bit, not just
# the exact count. 44-bit hashes (11 md5 hex digits) keep
# (K-1) * 2^44 inside a BIGINT so the estimator divides exactly in
# integer math on both engines.
# ---------------------------------------------------------------------------

KMV_K = 64  # sketch size: ~1/sqrt(K) = 12% relative error
_KMV_DOMAIN = 1 << 44  # 11 md5 hex digits
_KMV_SENTINEL = -1  # h of the version row (real hashes are >= 0)


def _kmv_hash(col: F.Column) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), col)), 1, 11), 16, 10
    ).cast("long")


def merge_kmv_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: fold this batch's distinct user hashes into
    the K-minimum-values state (replay-gated; a replayed batch unions
    an empty delta and the K smallest of the state is the state)."""
    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark, data_dir, table, "h long, meta long", "h", "meta",
        _KMV_SENTINEL,
    )
    delta = _gate_delta(
        batch_df.select(
            _kmv_hash(F.col("user_id").cast("string")).alias("h")
        ).distinct(),
        last1,
        batch_id,
    )
    merged = (
        cur.select("h")
        .unionByName(delta)
        .distinct()
        .orderBy("h")  # with limit: TakeOrderedAndProject, no full sort
        .limit(KMV_K)
        .select("h", F.lit(0).cast("long").alias("meta"))
    )
    sentinel = last1.select(
        F.lit(_KMV_SENTINEL).cast("long").alias("h"),
        _next_version(batch_id).alias("meta"),
    )
    _write_state(merged.unionByName(sentinel), data_dir, table)


def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimate with BOUNDED state: micro-batch
    commits maintain the K smallest user-id hashes exactly-once; the
    final read derives (n_hashes, kth hash, estimate) — under K
    distinct users the sketch IS exact, at or above K the estimator
    (K-1) * 2^44 / h_K applies, floor-divided in integer math so the
    oracle reproduces the estimate exactly from the raw events.

    Scale notes (100 TB): state is K longs — constant; per batch one
    map-side-combined distinct + a TakeOrdered top-K. This is the
    distinct-count twin of the MG heavy-hitter design: both keep a
    provably-sufficient constant-size candidate set, and merge = union
    keeps replays free."""
    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_kmv_")
    chk = tempfile.mkdtemp(prefix="chk_kmv_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            _multi_file_events(
                spark,
                sf_dir,
                cols=("user_id",),
                schema="user_id long",
            )
            .writeStream.foreachBatch(
                lambda df, bid: merge_kmv_batch(df, bid, data_dir, "kmv_state")
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    state = _read_state(
        spark, data_dir, "kmv_state", schema="h long, meta long"
    )
    agg = state.filter(F.col("h") != _KMV_SENTINEL).agg(
        F.count(F.lit(1)).alias("n_hashes"), F.max("h").alias("kth")
    )
    numer = (KMV_K - 1) * _KMV_DOMAIN
    return agg.select(
        "n_hashes",
        "kth",
        F.when(F.col("n_hashes") < KMV_K, F.col("n_hashes"))
        .otherwise(F.expr(f"{numer} div kth"))
        .cast("long")
        .alias("est_distinct"),
    )


QUERIES["stream_kmv_distinct"] = stream_kmv_distinct

ORACLES["stream_kmv_distinct"] = f"""
    WITH h AS (
        SELECT DISTINCT CAST('0x' || substr(
            md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 11) AS BIGINT) AS h
        FROM events),
    k AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
    agg AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM k)
    SELECT CAST(n AS BIGINT) AS n_hashes, kth,
           CAST(CASE WHEN n < {KMV_K} THEN n
                ELSE {(KMV_K - 1) * _KMV_DOMAIN} // kth END AS BIGINT)
               AS est_distinct
    FROM agg
"""


# ---------------------------------------------------------------------------
# Incremental Merkle maintenance — INCREMENTAL VIEW MAINTENANCE of the
# integrity tree (the streaming twin of ext_merkle_fingerprint /
# ext_merkle_diff): each micro-batch inserts its document leaves and
# recomputes ONLY the tree paths those leaves touch — O(batch · log n)
# hash work per commit instead of rebuilding the tree — with the same
# exactly-once sentinel machinery as the other merge sinks. Hashes are
# 60-bit md5 longs (the native state format is integer-only); parent =
# md5-long over the ordered "bucket:hash" child encoding, so the
# DuckDB oracle can rebuild the full tree from the raw table and match
# every level, including the root, bit-for-bit.
# ---------------------------------------------------------------------------

MKS_ARITY = 32  # wider fan-out than the batch tree: one less level
MKS_LEVELS = 3  # 32^3 = 32,768 leaf capacity >= every testdata SF
_MKS_SENTINEL = -1  # level of the version row (real levels are >= 0)


def _mks_leaf(df: DataFrame) -> DataFrame:
    """(b, h) leaf rows: b = doc_id, h = md5-long of the canonical
    row encoding."""
    return df.select(
        F.col("doc_id").cast("long").alias("b"),
        md5_long(
            F.concat_ws(
                "|", F.col("doc_id").cast("string"), F.md5("text")
            ),
            "ml",
        ).alias("h"),
    )


_MKS_PH_CACHE: dict[str, F.Column] = {}


def _mks_parent_hash() -> F.Column:
    """Aggregate: md5-long over ',' -joined 'bucket:hash' children in
    bucket order (collect_list sorted by struct order — deterministic).

    The Column is memoized per SparkContext: it is an unresolved,
    immutable expression tree reused by 3 levels × every micro-batch,
    and building it via py4j is a measurable slice of merkle's
    per-batch driver-side plan-construction cost (round-10: construct
    dropped ~0.3 s/batch with the ladder otherwise unchanged). Keyed
    by applicationId so a restarted context never sees a stale
    gateway handle."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    key = spark.sparkContext.applicationId if spark is not None else "_"
    cached = _MKS_PH_CACHE.get(key)
    if cached is not None:
        return cached
    col = _build_mks_parent_hash()
    _MKS_PH_CACHE.clear()  # one live context at a time
    _MKS_PH_CACHE[key] = col
    return col


def _build_mks_parent_hash() -> F.Column:
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("b", "h"))),
                        lambda s: F.concat(
                            s["b"].cast("string"),
                            F.lit(":"),
                            s["h"].cast("string"),
                        ),
                    ),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def merge_merkle_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: insert this batch's leaves, then recompute
    only the ancestor buckets the batch touches, level by level —
    unchanged subtrees are carried over without rehashing."""
    spark = batch_df.sparkSession
    # TWO checkpoints per batch — the committed state and the (tiny)
    # gated leaf delta — and nothing else. The level ladder then
    # evaluates inside the ONE write job over plain RDD scans. The
    # measured cost here is DRIVER-side: per-level lazy checkpoints
    # cost a fixed job each, while an uncheckpointed ladder re-embeds
    # the CSV state scan ~20x in one plan and pays for it in Catalyst
    # analysis time (round-8 verdict: merkle was the slowest stream
    # entry; job time was 1.6s of a 5.9s wall — the rest was planning).
    # cur AND last1 both derive from the one checkpointed scan, unlike
    # the shared _state_and_guard shape (whose two-CSV-scan plan is the
    # right call for the single-ladder sinks that use it).
    state = _read_state(
        spark, data_dir, table, schema="level long, b long, h long"
    )
    if state is None:
        cur = jvm_empty(spark, "level long, b long, h long")
        last1 = spark.range(1).select(
            F.lit(None).cast("long").alias("_last")
        )
    else:
        state = state.localCheckpoint()
        cur = state.filter(F.col("level") != _MKS_SENTINEL)
        last1 = state.filter(F.col("level") == _MKS_SENTINEL).agg(
            F.max("b").cast("long").alias("_last")
        )
    delta = _gate_delta(_mks_leaf(batch_df), last1, batch_id).localCheckpoint()
    # level 0: union of committed leaves and the batch's new leaves
    new_levels = []
    lvl = cur.filter(F.col("level") == 0).select("b", "h").unionByName(delta)
    new_levels.append(lvl.select(F.lit(0).cast("long").alias("level"), "b", "h"))
    # ONE changed-bucket table covering every level, built with ONE
    # explode+distinct (round-10: was one distinct per level = 3
    # shuffles) — each level's semi join filters it by level, so the
    # joins share ONE canonicalized broadcast subplan and exchange
    # reuse builds it a single time per write (six per-level
    # broadcasts cost six build jobs per batch; broadcast builds were
    # ~30 of merkle's 37 jobs)
    arms = []
    fl = F.col("b")
    for k in range(1, MKS_LEVELS + 1):
        fl = F.floor(fl / MKS_ARITY)
        arms.append(
            F.struct(
                F.lit(k).cast("long").alias("clevel"),
                fl.cast("long").alias("cb"),
            )
        )
    changed_all = F.broadcast(
        delta.select(F.explode(F.array(*arms)).alias("c"))
        .select("c.clevel", "c.cb")
        .distinct()
    )
    # ONE anti join covers every level's carried (untouched) rows;
    # the per-level slices below are plain filters of it (round-10:
    # was one anti join per level)
    carried_all = cur.filter(F.col("level") >= 1).join(
        changed_all,
        (F.col("level") == F.col("clevel")) & (F.col("b") == F.col("cb")),
        "left_anti",
    )
    ph = _mks_parent_hash()
    for k in range(1, MKS_LEVELS + 1):
        # recompute ONLY the changed parent buckets from level k-1
        recomputed = (
            lvl.withColumn("pb", F.floor(F.col("b") / MKS_ARITY))
            .join(
                changed_all,
                (F.col("pb") == F.col("cb")) & (F.col("clevel") == k),
                "left_semi",
            )
            .groupBy("pb")
            .agg(ph.alias("h"))
            .select(F.col("pb").alias("b"), "h")
        )
        carried = carried_all.filter(F.col("level") == k).select("b", "h")
        # no per-level materialization: level k+1 re-evaluates level
        # k's (checkpoint-rooted, broadcast-joined) small subplan —
        # cheaper than a separate job per level at these depths
        lvl = carried.unionByName(recomputed)
        new_levels.append(
            lvl.select(F.lit(k).cast("long").alias("level"), "b", "h")
        )
    state = new_levels[0]
    for part in new_levels[1:]:
        state = state.unionByName(part)
    sentinel = last1.select(
        F.lit(_MKS_SENTINEL).cast("long").alias("level"),
        _next_version(batch_id).alias("b"),
        F.lit(0).cast("long").alias("h"),
    )
    _write_state(state.unionByName(sentinel), data_dir, table)


def stream_merkle_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once INCREMENTAL Merkle maintenance over the document
    stream: per micro-batch, O(batch · log n) hash recomputation along
    touched paths only; the final state holds the same tree a from-
    scratch build produces — which is exactly what the oracle builds
    from the raw table, comparing per level the bucket count, the hash
    mass (sum), and implicitly the root. This is incremental view
    maintenance applied to an integrity structure: the pattern that
    keeps a 100 TB dataset's fingerprint current without re-reading
    the dataset on every append.

    Scale notes: per batch, the leaf upsert is one union; each level's
    recompute joins level k-1 against the (tiny, broadcast) changed-
    bucket set and shrinks MKS_ARITY (32)× per level; unchanged
    subtrees carry over with an anti-join, never rehash. State is
    n·(1+1/32+...) rows — the leaf table dominates, as in any Merkle
    store; the
    single-file demo format caps it (the real target is a keyed table
    format, the operator shape is unchanged)."""
    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_mks_")
    chk = tempfile.mkdtemp(prefix="chk_mks_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # 4: JVM merge ladder, see stream_to_df
    # Static planning for the ladder (round 10): every shuffle in the
    # per-batch ladder is bounded by the MICRO-BATCH (only buckets the
    # batch touches are regrouped — O(batch·arity) rows, never state
    # size) and every join is statically broadcast-hinted, so AQE has
    # nothing to re-plan — it only adds a stage-materialization
    # round-trip per exchange, and the ladder chains MKS_LEVELS+2 of
    # them per batch (measured 4.25→3.41 s warm at sf0.1 with AQE
    # off). That argument is scale-independent: batch-bounded shuffles
    # stay small at any corpus size. Restored in finally.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = (
            _multi_file_docs(spark, sf_dir)
            .writeStream.foreachBatch(
                lambda df, bid: merge_merkle_batch(
                    df, bid, data_dir, "mks_tree"
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    state = _read_state(
        spark, data_dir, "mks_tree", schema="level long, b long, h long"
    )
    return (
        state.filter(F.col("level") != _MKS_SENTINEL)
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            # mod before summing: 60-bit hashes overflow a long sum
            F.sum(F.col("h") % 1000000007).alias("hash_mass"),
        )
    )


QUERIES["stream_merkle_root"] = stream_merkle_root

_MKS_HEX = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

ORACLES["stream_merkle_root"] = f"""
    WITH l0 AS (
        SELECT doc_id AS b,
               {_MKS_HEX.format(x="'ml:' || CAST(doc_id AS VARCHAR) || '|' || md5(text)")} AS h
        FROM documents),
    l1 AS (SELECT b // {MKS_ARITY} AS b,
                  {_MKS_HEX.format(x="string_agg(CAST(b AS VARCHAR) || ':' || CAST(h AS VARCHAR), ',' ORDER BY b)")} AS h
           FROM l0 GROUP BY b // {MKS_ARITY}),
    l2 AS (SELECT b // {MKS_ARITY} AS b,
                  {_MKS_HEX.format(x="string_agg(CAST(b AS VARCHAR) || ':' || CAST(h AS VARCHAR), ',' ORDER BY b)")} AS h
           FROM l1 GROUP BY b // {MKS_ARITY}),
    l3 AS (SELECT b // {MKS_ARITY} AS b,
                  {_MKS_HEX.format(x="string_agg(CAST(b AS VARCHAR) || ':' || CAST(h AS VARCHAR), ',' ORDER BY b)")} AS h
           FROM l2 GROUP BY b // {MKS_ARITY}),
    allv AS (
        SELECT 0 AS level, b, h FROM l0
        UNION ALL SELECT 1, b, h FROM l1
        UNION ALL SELECT 2, b, h FROM l2
        UNION ALL SELECT 3, b, h FROM l3)
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(h % 1000000007) AS BIGINT) AS hash_mass
    FROM allv GROUP BY level
"""


# ---------------------------------------------------------------------------
# Streaming near-duplicate registry: the LSH-band complement of
# `stream_dedup` (exact keys). The state is the per-band MINIMUM
# doc_id over every MinHash band ever streamed — the incremental
# "have I seen something like this" index a 100 TB ingest keeps
# current instead of re-running the banded self-join per batch. The
# kept-set rule is arrival-order-INDEPENDENT by construction (a doc
# is kept iff it is the global minimum of every one of its band
# buckets), so the oracle reproduces it from the raw table with no
# notion of batches.

_BND_SENTINEL = -1  # md5_long keys are 60-bit non-negative

# per-stream (band, doc_id) delta handles, keyed by state dir: the
# merge's localCheckpointed band rows, reused by the final audit
# instead of a second full-table shingle+hash pass (popped by
# stream_band_dedup's finally)
_BND_LOG: dict[str, list[DataFrame]] = {}


BND_BANDS = 4
BND_ROWS = 4
BND_MOD = 2147483647  # 2^31 - 1 (prime): permutation arithmetic ring


def _md5l_sql(x: str, salt: str = "bnd") -> str:
    """SQL-string form of functions.hashing.md5_long (same bytes)."""
    return (
        f"CAST(conv(substring(md5(concat('{salt}:', {x})), 1, 15), "
        "16, 10) AS BIGINT)"
    )


# SQL-string form of textfns.shingles("text", SHINGLE_K=3) — kept in
# lockstep with the Column version (tests compare the two paths
# row-for-row via the band-key symmetric diff in test_streaming).
_BND_SHINGLES_SQL = (
    "CASE WHEN size(split(text, '\\\\s+')) >= 3 THEN "
    "transform(sequence(0, greatest(size(split(text, '\\\\s+')) - 3, 0)), "
    "i -> concat_ws(' ', slice(split(text, '\\\\s+'), i + 1, 3))) "
    "ELSE array(concat_ws(' ', split(text, '\\\\s+'))) END"
)


def _doc_bands(df: DataFrame) -> DataFrame:
    """(doc_id, band) rows: MinHash band keys from ONE md5 per shingle
    plus 16 affine permutations h_i = (a_i*h + b_i) mod (2^31-1) —
    the universal-hashing construction that makes streaming banding
    cheap (the batch dedup's 16-independent-md5 signature costs 16
    string-hash passes over every shingle array; measured 80 s for a
    one-split sf0.1 scan, and still the dominant term multi-split,
    per SCALE.md round-9 notes). The DuckDB oracle replays the exact
    integer arithmetic, so band GROUPS (collisions included) match
    across engines; the final 60-bit md5_long band key fits the
    integer-only native state format.

    Built from SQL strings (three selectExpr calls), not Column
    lambdas: the 16 permutation transforms plus band md5s cost ~0.4 s
    of py4j expression construction PER CALL as Column objects vs
    ~0.05 s as one JVM-side parse — and this runs once per micro-batch
    plus once for the audit (round-10 measurement; values verified
    identical to the Column form)."""
    from mini_sql_engine_spark.catalog import ensure_min_partitions

    comps = [
        f"coalesce(array_min(transform(_h, h -> "
        f"(h * {2 * i + 1} + {104729 * i}) % {BND_MOD})), "
        f"CAST(0 AS BIGINT)) AS c{i}"
        for i in range(BND_BANDS * BND_ROWS)
    ]
    band_keys = ", ".join(
        _md5l_sql(
            "concat_ws(',', '" + str(b) + "', "
            + ", ".join(
                f"CAST(c{b * BND_ROWS + r} AS STRING)"
                for r in range(BND_ROWS)
            )
            + ")"
        )
        for b in range(BND_BANDS)
    )
    # never let per-shingle hashing run on a one-split scan (the
    # micro-batch arrives as files_per_trigger splits, the audit as 1)
    w = ensure_min_partitions(df)
    return (
        w.selectExpr(
            "doc_id",
            f"transform(array_distinct({_BND_SHINGLES_SQL}), "
            f"sh -> {_md5l_sql('sh')} % {BND_MOD}) AS _h",
        )
        .selectExpr("doc_id", *comps)
        .selectExpr("doc_id", f"explode(array({band_keys})) AS band")
    )


def merge_band_batch(
    batch_df: DataFrame, batch_id: int, data_dir: str, table: str
) -> None:
    """foreachBatch body: fold this batch's (band, doc_id) rows into
    the per-band minimum registry (replay-gated; min is idempotent,
    so a replayed batch merges to the identical state)."""
    spark = batch_df.sparkSession
    cur, last1 = _state_and_guard(
        spark, data_dir, table, "band long, mn long", "band", "mn",
        _BND_SENTINEL,
    )
    # ONE materialization of the per-shingle hash projection — this
    # file's most expensive expression — serving two readers: the
    # merge below and the final audit (which would otherwise rehash
    # the WHOLE table: every document arrives in exactly one batch, so
    # the union of the batch band-logs IS `_doc_bands(documents)`).
    # localCheckpoint keeps the blocks executor-local with no file-
    # committer round trip; the stashed DataFrame handle is how the
    # audit reaches them (a production registry durably appends the
    # same rows to a keyed (band, doc_id) posting-list table — same
    # dataflow, one materialization either way). A replayed batch
    # stashes a gated-to-empty delta: the audit union is unchanged.
    delta = _gate_delta(_doc_bands(batch_df), last1, batch_id).localCheckpoint()
    _BND_LOG.setdefault(data_dir, []).append(
        delta.select("doc_id", "band")
    )
    merged = (
        cur.select("band", "mn")
        .unionByName(delta.select("band", F.col("doc_id").alias("mn")))
        .groupBy("band")
        .agg(F.min("mn").alias("mn"))
    )
    sentinel = last1.select(
        F.lit(_BND_SENTINEL).cast("long").alias("band"),
        _next_version(batch_id).alias("mn"),
    )
    _write_state(merged.unionByName(sentinel), data_dir, table)


def stream_band_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming LSH band registry + batch kept-set audit:
    micro-batch commits maintain min(doc_id) per MinHash band; the
    final read re-derives each document's bands from the table and
    keeps a doc iff it is the minimum of ALL its band buckets — the
    canonical-keeper rule, independent of arrival order, which is what
    makes the state mergeable (min is associative/commutative/
    idempotent) and the whole pipeline replay-safe.

    Scale notes (100 TB): per batch one explode to 4 thin (band,
    doc_id) rows per doc and one map-side-combined min — shingle
    arrays never ride the shuffle (same economics as
    `ext_dedup_minhash_lsh`, incrementalized). State is
    |distinct bands| rows ~ 4·n_docs longs+hashes — registry-sized by
    necessity (it IS the index); a real deployment keys it by band
    prefix in a keyed table format, the merge shape is unchanged."""
    _enable_native_pushdown(spark)
    data_dir = tempfile.mkdtemp(prefix="minisql_bnd_")
    chk = tempfile.mkdtemp(prefix="chk_bnd_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # 4: JVM merge ladder, see stream_to_df
    # Static planning (round 10, same argument as stream_merkle_root):
    # the per-batch merge shuffles O(batch·bands) thin rows with a
    # map-side-combined min and the audit joins the batch-bounded
    # delta logs — nothing for AQE to re-plan, one stage round-trip
    # per exchange saved (3.57→3.14 s warm at sf0.1). Restored in
    # finally.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = (
            _multi_file_docs(spark, sf_dir)
            .writeStream.foreachBatch(
                lambda df, bid: merge_band_batch(
                    df, bid, data_dir, "band_registry"
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        deltas = _BND_LOG.pop(data_dir, [])
    finally:
        _BND_LOG.pop(data_dir, None)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    registry = _read_state(
        spark, data_dir, "band_registry", schema="band long, mn long"
    ).filter(F.col("band") != _BND_SENTINEL)
    # audit input = the per-batch (doc_id, band) deltas the merge
    # already materialized — their union is exactly the rows
    # `_doc_bands(documents)` would recompute (every document arrived
    # in one batch), minus a second full-table reshingle+rehash pass
    doc_bands = deltas[0]
    for part in deltas[1:]:
        doc_bands = doc_bands.unionByName(part)
    flags = (
        doc_bands.join(registry, "band")
        .groupBy("doc_id")
        .agg(
            F.max((F.col("mn") < F.col("doc_id")).cast("long")).alias(
                "dropped"
            )
        )
    )
    n_bands = registry.agg(F.count(F.lit(1)).alias("n_bands"))
    return flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(1 - F.col("dropped")).alias("n_kept"),
        F.sum("dropped").alias("n_dropped"),
        F.sum(
            F.when(F.col("dropped") == 0, F.col("doc_id")).otherwise(0)
        ).alias("sum_kept_ids"),
    ).crossJoin(F.broadcast(n_bands))


QUERIES["stream_band_dedup"] = stream_band_dedup


def _band_dedup_oracle() -> str:
    from mini_sql_engine_spark.operators.dedup import _BASE

    hexp = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
    comps = ", ".join(
        "COALESCE(list_min(list_transform(hs, h -> "
        f"(h * {2 * i + 1} + {104729 * i}) % {BND_MOD})), 0) AS c{i}"
        for i in range(BND_BANDS * BND_ROWS)
    )
    bandh = ", ".join(
        hexp.format(
            x="'bnd:' || '"
            + str(b)
            + "' || ',' || "
            + " || ',' || ".join(
                f"CAST(c{b * BND_ROWS + r} AS VARCHAR)"
                for r in range(BND_ROWS)
            )
        )
        + f" AS b{b}"
        for b in range(BND_BANDS)
    )
    bands_list = "[" + ", ".join(f"b{b}" for b in range(BND_BANDS)) + "]"
    return f"""
        WITH base AS ({_BASE}),
        hs AS (SELECT doc_id,
                      list_transform(sh, s -> {hexp.format(x="'bnd:' || s")}
                                     % {BND_MOD}) AS hs
               FROM base),
        sig AS (SELECT doc_id, {comps} FROM hs),
        bands AS (SELECT doc_id, {bandh} FROM sig),
        bx AS (SELECT doc_id, unnest({bands_list}) AS band FROM bands),
        mins AS (SELECT band, MIN(doc_id) AS mn FROM bx GROUP BY band),
        flags AS (
            SELECT bx.doc_id,
                   MAX(CASE WHEN mins.mn < bx.doc_id THEN 1 ELSE 0 END)
                       AS dropped
            FROM bx JOIN mins USING (band)
            GROUP BY bx.doc_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(1 - dropped) AS BIGINT) AS n_kept,
               CAST(SUM(dropped) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN dropped = 0 THEN doc_id ELSE 0 END)
                    AS BIGINT) AS sum_kept_ids,
               CAST((SELECT COUNT(*) FROM mins) AS BIGINT) AS n_bands
        FROM flags
    """


ORACLES["stream_band_dedup"] = _band_dedup_oracle()
