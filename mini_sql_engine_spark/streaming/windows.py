"""Structured Streaming over the events table.

The reference has no streaming at all (SURVEY.md §2.1); this is the
`readStream → transform → writeStream` surface with watermarked
windowed aggregation and a custom stateful operator
(applyInPandasWithState). The batch/stream unification is the point:
`stream_to_df` runs a streaming query to completion over the same
parquet and returns a DataFrame — which the driver then checks against
the SAME DuckDB oracle as the batch version (stream-batch parity).

Scale notes:
- watermark bounds state: the windowed agg keeps only windows newer
  than max(ts) - delay; state store size is O(open windows × groups),
  independent of stream length;
- `applyInPandasWithState` state is per-group (user_id) — shuffled once
  by the group key, Arrow-batched into Python;
- file-source streaming with maxFilesPerTrigger gives deterministic
  replay of a parquet directory — the pattern for backfill-then-tail
  pipelines; memory sink is test-only, production would write
  kafka/parquet sinks with checkpointing.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from mini_sql_engine_spark import oracle_shared
from mini_sql_engine_spark.catalog import load_table, normalize_event_ts


# (table, content token) -> raw parquet schema. The footer schema read
# costs ~0.1 s of driver time per call (same fixed cost the batch
# catalog memoizes in _SCAN_MEMO); every stream entry re-derives the
# identical schema. The schema is a property of the file, not of the
# session, so the key holds no session id that could alias.
_STREAM_SCHEMA_MEMO: dict[tuple[str, str], object] = {}


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source readStream over one testdata parquet table.

    The file stream source requires a DIRECTORY; stage a symlink (the
    testdata itself is read-only and must not be reorganized). Keyed by
    a stable digest of (sf_dir, table) so every process maps the same
    source to the same staging dir (PYTHONHASHSEED makes hash()
    per-process)."""
    from mini_sql_engine_spark.catalog import content_token

    src = os.path.join(sf_dir, f"{table}.parquet")
    skey = (table, content_token(sf_dir, table))
    raw_schema = _STREAM_SCHEMA_MEMO.get(skey)
    if raw_schema is None:
        raw_schema = spark.read.parquet(src).schema
        _STREAM_SCHEMA_MEMO[skey] = raw_schema
    digest = hashlib.md5(f"{sf_dir}:{table}".encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"{table}_stream_{digest}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, ts normalized like the batch
    catalog (`catalog.normalize_event_ts`: NTZ or nanos-long →
    session-zoned microsecond timestamp, as watermarks require)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(table_stream(spark, sf_dir, "events"))


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked hourly tumbling counts by event type."""
    return (
        stream.withWatermark("ts", watermark)
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


def sliding_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 48h windows sliding by 24h — each event lands in two
    overlapping windows; state holds only windows newer than the
    watermark. Same output shape as the batch sliding-window operator
    (rollups.sliding_window), so the driver checks the replay against
    the SAME oracle — stream-batch parity for overlapping windows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


_STATE_SCHEMA = StructType(
    [StructField("total_cents", LongType()), StructField("n", LongType())]
)
_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def _batch_cents(values: "pd.Series") -> int:
    """Exact per-batch cents: floor(v*100 + 0.5) per value (the repo
    money rule — identical IEEE ops in numpy float64, the JVM, and
    DuckDB), summed as integers. Integer state accumulates exactly
    across batches in ANY order, so the N-batch streaming total equals
    the one-shot batch aggregate bit-for-bit — a float running total
    would drift with batch boundaries."""
    import numpy as np

    # cast each floored value to int64 BEFORE summing: a float64 sum of
    # integer-valued floats is exact only below 2^53, an int64 sum at
    # any magnitude a long total can hold
    return int(
        np.floor(values.to_numpy(dtype="float64") * 100 + 0.5)
        .astype("int64")
        .sum()
    )


def _user_totals_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: running per-user event count + value sum."""
    total, n = state.get if state.exists else (0, 0)
    for pdf in batches:
        total += _batch_cents(pdf["value"])
        n += len(pdf)
    state.update((total, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [total]}
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """applyInPandasWithState: cumulative per-user totals across batches."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _TotalsProcessor(StatefulProcessor):
    """StatefulProcessor for transformWithStateInPandas — the Spark 4
    successor to applyInPandasWithState. Same running per-user totals as
    `_user_totals_fn` above, but state is a named ValueState on the
    RocksDB state store (the provider TWS requires), which at scale
    spills to disk and supports changelog checkpointing instead of
    holding all keys on-heap."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("totals", _STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        got = self._state.get() if self._state.exists() else None
        total, n = got if got is not None else (0, 0)
        for pdf in rows:
            total += _batch_cents(pdf["value"])
            n += len(pdf)
        self._state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [total]}
        )

    def close(self) -> None:
        pass


def tws_user_totals(stream: DataFrame) -> DataFrame:
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TotalsProcessor(),
        outputStructType=_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def session_counts(stream: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Streaming sessionization: watermarked session windows per user.

    State holds open sessions only — a session closes (and its state is
    evicted) once the watermark passes its end + gap. Output matches the
    batch `ext_session_window` shape, so the SAME gaps-and-islands
    DuckDB oracle checks both (stream-batch unification)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("sess_start_s"),
            "n_events",
            "sum_cents",
        )
    )


def session_counts_dynamic(stream: DataFrame) -> DataFrame:
    """Streaming sessionization with a DYNAMIC per-event gap — Spark's
    session_window(gapDuration=Column) form: each event extends its
    session to ts + gap(event_type) (clicks 30 min, purchases 2 h,
    views 1 h) and overlapping extents merge. The fixed-gap query
    above is the classic gaps-and-islands; the dynamic form is what a
    product analytics pipeline actually ships (interaction kinds keep
    sessions alive for different horizons).

    Oracle note: a session's end is the RUNNING MAX of (ts + gap) over
    its events, and any closed session's end precedes the next
    session's first event — so "new session at row i" is exactly
    ts_i > max_{j<i}(ts_j + gap_j) over the user's full history, and
    the replay is one window + gaps-and-islands (no per-session
    recursion needed). Tie rows (equal ts) are order-insensitive: the
    second-ordered row always lands inside the first's extent.

    State/scale: identical eviction to the fixed gap — open sessions
    only, closed once the watermark passes end + gap."""
    gap = (
        F.when(F.col("event_type") == "click", F.lit("30 minutes"))
        .when(F.col("event_type") == "purchase", F.lit("2 hours"))
        .otherwise(F.lit("1 hour"))
    )
    return (
        stream.withWatermark("ts", "4 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("sess_start_s"),
            "n_events",
            "sum_cents",
        )
    )


def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_to_df(
        spark,
        session_counts_dynamic(events_stream(spark, sf_dir)),
        "complete",
        final_nodata=False,  # complete mode: see stream_tumbling
        parts=4,
    )


def click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchases within `horizon` after a
    click by the same user. Both sides carry watermarks, and the time-
    range condition bounds the join state: a buffered click is evicted
    once the purchase-side watermark passes click_ts + horizon — state
    is O(events inside the horizon window), independent of stream
    length. Output keys only (event ids) — append-mode deterministic."""
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return c.join(
        p,
        F.expr(
            f"c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {horizon}"
        ),
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")


def stream_to_df(
    spark: SparkSession,
    streaming_df: DataFrame,
    output_mode: str,
    dedupe_keys: list[str] | None = None,
    order_col: str | None = None,
    final_nodata: bool = True,
    parts: int = 8,
) -> DataFrame:
    """Run a streaming DF to completion into a memory sink; return the
    result table. In update mode with multiple batches, keep only the
    last emission per key (`dedupe_keys` + monotonic `order_col`).

    ``final_nodata=False`` disables no-data micro-batches
    (`spark.sql.streaming.noDataMicroBatches.enabled`) for this query.
    The final no-data batch exists to advance the watermark and FLUSH
    state whose emission waits on it — append-mode windowed aggregates
    and outer-join null rows. A query whose every output row is emitted
    in the batch that produced it (inner joins, complete-mode
    aggregates that re-emit full state each batch, stateful operators
    with NoTimeout, streaming dedup) gets nothing from that batch and
    pays a full zero-row trigger for it — measured ~1.1 s per replay at
    8 state partitions (state-store load/commit × partitions + plan +
    task rounds, data-independent). Callers assert the semantic
    property, the oracle sweep pins the results."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    chk = os.path.join(tempfile.gettempdir(), f"chk_{name}")
    # state-store count = shuffle partitions at query START (fixed for
    # the query's lifetime). This replay is a bounded batch — 8 state
    # partitions beat 32 stores' open/commit overhead; a production
    # long-lived stream would size this to key cardinality instead.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # Round 10 (same rule as the merkle/band streams): every shuffle in
    # these replays is bounded by the micro-batch and the state is
    # 8-partition by construction, so AQE only adds a per-exchange
    # stage-materialization round-trip PER BATCH — pure fixed cost.
    # Restored in finally; production long-lived streams keep AQE off
    # for streaming plans anyway (Spark ignores AQE in continuous
    # stateful stages) — this pins the same behavior for the replay.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if not final_nodata:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
    out = spark.table(name)
    if dedupe_keys and order_col:
        from pyspark.sql import Window

        w = Window.partitionBy(*dedupe_keys).orderBy(F.col(order_col).desc())
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn")
        )
    return out


# ---- driver-contract queries (stream-batch parity oracles) -----------------


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete mode re-emits full state every batch: the final
    # no-data batch recomputes an identical table — skip it
    return stream_to_df(
        spark,
        tumbling_counts(events_stream(spark, sf_dir)),
        "complete",
        final_nodata=False,
        parts=4,  # JVM stateful: see stream_to_df
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # applyInPandasWithState with NoTimeout emits only on input rows;
    # a no-data batch invokes no groups — skip it
    return stream_to_df(
        spark,
        stateful_user_totals(events_stream(spark, sf_dir)),
        "update",
        final_nodata=False,
    )


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_to_df(
        spark,
        session_counts(events_stream(spark, sf_dir)),
        "complete",
        final_nodata=False,  # complete mode: see stream_tumbling
        parts=4,
    )


def stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one source, both legs — see stream_click_nopurchase
    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    # INNER join emits each match in the batch that completes it; the
    # no-data batch only evicts state, emitting nothing — skip it
    # (the outer joins in joins_ext.py NEED it: null rows flush there)
    return stream_to_df(
        spark,
        click_purchase_join(clicks, purchases),
        "append",
        final_nodata=False,
        parts=4,  # JVM stateful: see stream_to_df
    )


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_to_df(
        spark,
        sliding_counts(events_stream(spark, sf_dir)),
        "complete",
        final_nodata=False,  # complete mode: see stream_tumbling
        parts=4,
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich a purchase stream with a dimension.

    The static side (customer ⋈ nation, broadcast) is joined into every
    micro-batch with NO streaming state — stream-static inner joins are
    stateless by construction, unlike stream-stream joins. This is the
    canonical enrichment topology: at scale the dimension is a slowly-
    changing broadcast while the stream shuffles only for the final
    25-group aggregate. Oracled against the equivalent batch join.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    static = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")
    stream = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    enriched = (
        stream.join(F.broadcast(static), stream.user_id == static.c_custkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    return stream_to_df(
        spark, enriched, "complete", final_nodata=False, parts=4
    )  # complete mode: see stream_tumbling


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication — exactly-once ingestion's core operator.

    `dropDuplicates` over the key subset emits each (user_id,
    event_type) pair on first sight and suppresses every later arrival,
    so the replayed stream must equal batch SELECT DISTINCT (only the
    keys are emitted: which physical row arrives first is
    batch-partition-dependent, the key set is not). This replay keeps
    unbounded key state for exact semantics; a production tail would
    use dropDuplicatesWithinWatermark to bound state by event time.
    """
    s = events_stream(spark, sf_dir).select("user_id", "event_type")
    # dropDuplicates emits each key on first sight, within its batch;
    # the no-data batch emits nothing — skip it
    return stream_to_df(
        spark,
        s.dropDuplicates(["user_id", "event_type"]),
        "append",
        final_nodata=False,
        parts=4,  # JVM stateful: see stream_to_df
    )


def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas replay — requires the RocksDB state
    store provider; the conf is set for this query and restored (the
    provider is fixed per streaming query at start, so this does not
    disturb concurrently defined queries).

    ENVIRONMENT GATE: the TWS python⇄JVM state protocol is protobuf-
    based; without the `protobuf` package the driver worker dies in
    pre-init (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Not in
    QUERIES for that reason — the gated test exercises it where the
    dependency exists."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return stream_to_df(
            spark,
            tws_user_totals(events_stream(spark, sf_dir)),
            "update",
            final_nodata=False,  # NoTimeout: see stream_user_totals
        )
    finally:
        spark.conf.set(key, prev)


def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup — the production tail operator.

    `dropDuplicatesWithinWatermark` keeps a key's state only until the
    watermark passes its event time + delay, so state is O(keys seen in
    the delay horizon), independent of stream length — unlike
    `dropDuplicates` (stream_dedup above), whose state grows forever.
    The tradeoff: duplicates separated by more than the delay are NOT
    suppressed. Here the delay (60 days) covers the whole 30-day
    replay, so the emitted key set equals batch SELECT DISTINCT and the
    driver checks it against the same oracle.
    """
    s = events_stream(spark, sf_dir).select("ts", "user_id", "event_type")
    # dropDuplicatesWithinWatermark also emits first-sight rows in
    # their own batch (the watermark only bounds retained state) — the
    # no-data batch merely evicts, emitting nothing; skip it
    return stream_to_df(
        spark,
        s.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type"),
        "append",
        final_nodata=False,
        parts=4,  # JVM stateful: see stream_to_df
    )


_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # = analytics.ATTR_WINDOW_US

_ATTR_STATE = StructType(
    [StructField("click_ts_us", LongType()), StructField("click_event", LongType())]
)
_ATTR_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_event", LongType()),
        StructField("click_event", LongType()),
        StructField("mins_since_click", LongType()),
    ]
)


def _attr_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful last-touch attribution: carry the user's latest click
    (ts, event_id) across batches; emit one row per purchase. Vectorized
    inside each Arrow batch (where/ffill), per-row only at the state
    boundary. -1 sentinels stand for 'no click yet' in the state tuple
    (GroupState schemas are non-nullable in practice)."""
    cts, cev = state.get if state.exists else (-1, -1)
    outs = []
    for pdf in batches:
        pdf = pdf.sort_values(["ts_us", "event_id"]).reset_index(drop=True)
        is_click = pdf["event_type"] == "click"
        click_ts = pdf["ts_us"].where(is_click).ffill()
        click_id = pdf["event_id"].where(is_click).ffill()
        if cts >= 0:
            click_ts = click_ts.fillna(cts)
            click_id = click_id.fillna(cev)
        purch = pdf["event_type"] == "purchase"
        if purch.any():
            sel = pdf[purch]
            pts, pcts = sel["ts_us"], click_ts[purch]
            in_win = pcts.notna() & (pts - pcts <= _ATTR_WINDOW_US)
            outs.append(
                pd.DataFrame(
                    {
                        "user_id": pd.array([key[0]] * len(sel), dtype="Int64"),
                        "purchase_event": sel["event_id"].astype("Int64").values,
                        "click_event": pd.array(
                            [
                                int(c) if ok else None
                                for c, ok in zip(
                                    click_id[purch].fillna(-1), in_win
                                )
                            ],
                            dtype="Int64",
                        ),
                        "mins_since_click": pd.array(
                            [
                                int((p - c) // 60_000_000) if ok else None
                                for p, c, ok in zip(
                                    pts, pcts.fillna(-1), in_win
                                )
                            ],
                            dtype="Int64",
                        ),
                    }
                )
            )
        last_clicks = pdf[is_click]
        if len(last_clicks):
            cts = int(last_clicks["ts_us"].iloc[-1])
            cev = int(last_clicks["event_id"].iloc[-1])
    state.update((cts, cev))
    for o in outs:
        yield o


def stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL OPERATORS in one streaming query — Spark's
    multi-stateful pipeline support (3.5+): a watermarked
    dropDuplicatesWithinWatermark feeds a windowed aggregation, each
    with its own state store, watermark propagated between them. The
    query is hourly ACTIVE USERS per event type: dedup on
    (user_id, event_type, hour) then count per (hour window, type).
    The dedup key includes the hour bucket, so the count depends only
    on the KEY SET — never on which duplicate row happened to arrive
    first — keeping the chained result engine- and order-exact.

    Scale notes (100 TB): dedup state is O(distinct keys within the
    watermark horizon), the agg state O(open windows × types); both
    evict by the same propagated watermark. One shuffle per stateful
    operator, keyed exactly like the batch equivalent."""
    s = events_stream(spark, sf_dir).select(
        "ts",
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("hb"),
    )
    # 2-hour delay: the replay arrives as ONE micro-batch (watermark
    # still at epoch while it processes), so dedup state never evicts
    # mid-batch and the key set equals batch DISTINCT exactly; the
    # delay then decides which windows the final no-data batch flushes
    # (oracle models that eviction rule, like the outer joins)
    deduped = s.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hb"]
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type",
            "active_users",
        )
    )
    return stream_to_df(
        spark, agg, "append", parts=4  # JVM stateful: see stream_to_df
    )


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution via applyInPandasWithState —
    the stateful-streaming twin of batch `ext_attribution_last_touch`,
    checked against the SAME oracle (stream-batch unification).

    State per user is ONE (ts, event_id) tuple — O(users) total,
    independent of stream length — and purchases emit in append mode
    as they attribute. Batches are sorted by event time within the
    group before the carry (this replay arrives as one ordered batch;
    a production feed with cross-batch disorder would buffer behind a
    watermark first, e.g. the session-window pattern above)."""
    s = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return stream_to_df(
        spark,
        s.groupBy("user_id").applyInPandasWithState(
            _attr_fn,
            outputStructType=_ATTR_OUT,
            stateStructType=_ATTR_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "append",
    )


def batch_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the stateful operator — used in parity tests."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
        )
    )


QUERIES: dict[str, Callable] = {
    "stream_tumbling_counts": stream_tumbling,
    "stream_stateful_user_totals": stream_user_totals,
    "stream_session_windows": stream_sessions,
    "stream_session_dynamic_gap": stream_session_dynamic,
    "stream_dedup_then_window": stream_dedup_then_window,
    "stream_click_purchase_join": stream_click_purchase,
    "stream_sliding_counts": stream_sliding,
    "stream_static_enrich": stream_static_enrich,
    "stream_dedup": stream_dedup,
    "stream_dedup_watermarked": stream_dedup_watermarked,
    "stream_attribution": stream_attribution,
    # stream_tws_user_totals is implemented but NOT registered: the
    # transformWithState protocol needs the `protobuf` package, absent
    # from this container (tests/test_streaming.py gates on it).
}

# The batch session/sliding-window oracles verify the streams too (same
# output shape) — stream-batch unification, checked by the driver. The
# shared strings live in `oracle_shared` (a leaf module) rather than
# being imported from operators.rollups: a module-scope import of the
# operators package from here is circular and silently drops these
# ORACLES from the merged registry when windows is imported first.
_EVENTS_US = oracle_shared.EVENTS_US

ORACLES: dict[str, str] = {
    "stream_attribution": f"""
        WITH ev AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
            FROM events),
        tagged AS (
            SELECT user_id, event_id, event_type, ts_us,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN ts_us END IGNORE NULLS) OVER w
                       AS click_ts_us,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN event_id END IGNORE NULLS) OVER w
                       AS click_event
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id AS purchase_event,
               CASE WHEN ts_us - click_ts_us <= {_ATTR_WINDOW_US}
                    THEN click_event END AS click_event,
               CASE WHEN ts_us - click_ts_us <= {_ATTR_WINDOW_US}
                    THEN CAST(FLOOR((ts_us - click_ts_us) / 60000000)
                              AS BIGINT) END AS mins_since_click
        FROM tagged WHERE event_type = 'purchase'
    """,
    "stream_session_windows": oracle_shared.SESSION_WINDOW_ORACLE,
    "stream_session_dynamic_gap": oracle_shared.SESSION_DYNAMIC_ORACLE,
    # chained dedup->window: count of DISTINCT (user, type, hour) keys
    # per hour window — key-set-only, so duplicate-arrival order is moot
    "stream_dedup_then_window": f"""
        WITH e AS (SELECT * FROM {_EVENTS_US}),
        wm AS (SELECT max(ts) - INTERVAL 2 HOURS AS w FROM e),
        k AS (SELECT DISTINCT user_id, event_type,
                     date_trunc('hour', ts) AS hb FROM e)
        SELECT strftime(hb, '%Y-%m-%d %H:%M') AS hour_start,
               event_type, COUNT(*) AS active_users
        FROM k, wm
        WHERE hb + INTERVAL 1 HOUR <= wm.w
        GROUP BY hb, event_type
    """,
    "stream_sliding_counts": oracle_shared.SLIDING_WINDOW_ORACLE,
    "stream_static_enrich": """
        SELECT n_name, COUNT(*) AS n_purchases,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM events, customer, nation
        WHERE user_id = c_custkey AND c_nationkey = n_nationkey
          AND event_type = 'purchase'
        GROUP BY n_name
    """,
    # µs-truncated ts on the oracle side to match Spark's timestamp
    # precision (FIXTURES.md §1.4)
    "stream_click_purchase_join": f"""
        WITH e AS (SELECT * FROM {_EVENTS_US})
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        FROM e c JOIN e p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    "stream_tumbling_counts": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sum_cents
        FROM events GROUP BY 1, 2
    """,
    "stream_stateful_user_totals": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM events GROUP BY user_id
    """,
    # stream-batch parity: streaming dropDuplicates over the key subset
    # must reproduce batch DISTINCT exactly
    "stream_dedup": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "stream_dedup_watermarked": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
}
