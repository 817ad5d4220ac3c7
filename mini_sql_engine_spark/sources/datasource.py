"""The reference's native format as a Spark Python DataSource (V2 API).

The reference engine's entire storage layer is a ``metadata.txt``
catalog plus one headerless integer CSV per table, loaded whole into
driver memory per query (reference ``main.py`` ``load_metadata()`` /
``load_table()`` — SURVEY.md §2.1 O1/O2). This module re-expresses that
format as a first-class Spark connector:

    spark.dataSource.register(MiniSQLDataSource)
    df = (spark.read.format("minisql")
          .option("path", data_dir)      # dir holding metadata.txt + CSVs
          .option("table", "table1")
          .load())

Unlike the reference's whole-file load, the scan is SPLITTABLE: the
planner computes newline-aligned byte ranges (seek + advance, never a
full read) and each task parses only its range — the same contract that
lets Spark's builtin sources scale a single large file across a
cluster. Column pruning/pushdown stay with Catalyst above the source;
at 100 TB you would convert to parquet once (`csv_to_parquet`) — this
connector is the ingest/compatibility path, not the steady state.
"""

from __future__ import annotations

import operator
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StructField, StructType

from mini_sql_engine_spark.plans.dialect import EngineError
from mini_sql_engine_spark.sources.metadata_catalog import load_metadata


class _ByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int) -> None:
        self.path = path
        self.start = start
        self.end = end


def _aligned_offsets(path: str, n: int) -> list[int]:
    """Newline-aligned split points: seek to each candidate offset and
    advance past the current line. O(n) seeks, never a full read."""
    size = os.path.getsize(path)
    offsets = [0]
    with open(path, "rb") as fh:
        for i in range(1, max(n, 1)):
            pos = size * i // n
            if pos <= offsets[-1]:
                continue
            fh.seek(pos)
            fh.readline()  # finish the line the offset landed inside
            aligned = fh.tell()
            if offsets[-1] < aligned < size:
                offsets.append(aligned)
    offsets.append(size)
    return offsets


# comparison filters pushable into the native scan: class → operator
_PUSHABLE_OPS = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
}


class MiniSQLReader(DataSourceReader):
    """Splittable scan of the native format. This BASE class
    deliberately does NOT implement ``pushFilters``: Spark 4.1
    hard-fails (``DATA_SOURCE_PUSHDOWN_DISABLED``) any Python data
    source whose reader implements ``pushFilters()`` while the session
    conf ``spark.sql.python.filterPushdown.enabled`` is false. The
    engine's own ``get_spark()`` turns the conf on, but the connector
    must also work under a *caller-owned* session with default confs
    (this exact fragility produced round 5's only four failures).
    Session confs are UNREADABLE inside the Python planning worker
    where ``reader()`` runs, so selection is driven purely by the
    per-read OPTION: ``MiniSQLDataSource.reader()`` returns the
    :class:`MiniSQLPushdownReader` subclass only when the read was
    created with ``.option("pushdown", "true")`` (whose caller has, by
    opting in, accepted responsibility for the session conf), and this
    pushdown-free base otherwise.
    """

    def __init__(
        self,
        csv_path: str,
        n_partitions: int,
        columns: list[str],
        enable_pushdown: bool = False,
    ) -> None:
        self._csv_path = csv_path
        self._n = n_partitions
        self._columns = columns
        self._enable_pushdown = enable_pushdown
        self._pushed: list[tuple[int, object, int]] = []  # (col idx, op, value)

    def partitions(self) -> Sequence[InputPartition]:
        offs = _aligned_offsets(self._csv_path, self._n)
        return [
            _ByteRange(self._csv_path, s, e)
            for s, e in zip(offs, offs[1:])
            if e > s
        ]

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        with open(partition.path, "rb") as fh:
            fh.seek(partition.start)
            chunk = fh.read(partition.end - partition.start)
        pushed = self._pushed
        for line in chunk.splitlines():
            if not line.strip():
                continue
            row = tuple(
                int(field.strip().strip(b'"')) for field in line.split(b",")
            )
            if all(op(row[i], v) for i, op, v in pushed):
                yield row


class MiniSQLPushdownReader(MiniSQLReader):
    """Native filter pushdown (Spark 4.1 Python DataSource
    ``pushFilters``): integer comparison predicates are evaluated on
    the parsed fields BEFORE rows leave the Python reader, so
    non-matching rows never cross the Arrow boundary into the JVM —
    the same contract a database source honors. ``IsNotNull`` is
    absorbed for free (the format is integer-only, nulls cannot
    exist); everything else is returned to Spark for post-scan
    evaluation.

    Pushdown is OPT-IN per read (``option("pushdown", "true")``):
    Spark 4.1 caches the planned Python read — pushed filters baked
    into the pickled reader — on the shared relation object, and a
    later NO-filter query on the same loaded DataFrame reuses that
    stale plan, silently returning the previous query's filtered rows
    (verified against this Spark build; queries WITH filters re-plan
    and are safe). Opting in per read() call, where every query builds
    its own relation, sidesteps the stale-reuse hazard; a reused
    multi-query DataFrame should leave pushdown off.

    Only instantiated for opt-in reads — a default read gets the base
    :class:`MiniSQLReader` (no ``pushFilters`` attribute at all), so
    the common path can never trip ``DATA_SOURCE_PUSHDOWN_DISABLED``
    whatever the session's confs. An opt-in read additionally needs
    ``spark.sql.python.filterPushdown.enabled`` (``register()`` turns
    it on); Spark raises a clear ask-the-user error otherwise.
    """

    def pushFilters(self, filters):  # noqa: N802 - Spark API name
        if not self._enable_pushdown:
            return filters
        remaining = []
        for f in filters:
            op = _PUSHABLE_OPS.get(type(f))
            if (
                op is not None
                and len(f.attribute) == 1
                and f.attribute[0] in self._columns
                and isinstance(f.value, int)
                and not isinstance(f.value, bool)
            ):
                self._pushed.append(
                    (self._columns.index(f.attribute[0]), op, f.value)
                )
            elif isinstance(f, IsNotNull) and len(f.attribute) == 1:
                pass  # every value in the integer-only format is non-null
            else:
                remaining.append(f)
        return remaining


class MiniSQLDataSource(DataSource):
    """``format("minisql")`` — options: path (dir), table, numPartitions."""

    @classmethod
    def name(cls) -> str:
        return "minisql"

    def _table_and_dir(self) -> tuple[str, str]:
        data_dir = self.options.get("path")
        table = self.options.get("table")
        if not data_dir or not table:
            raise EngineError("minisql source needs 'path' and 'table' options")
        return table, data_dir

    def schema(self) -> StructType:
        table, data_dir = self._table_and_dir()
        catalog = load_metadata(os.path.join(data_dir, "metadata.txt"))
        if table not in catalog:
            raise EngineError(
                f"unknown table {table!r}; catalog has: {', '.join(catalog)}"
            )
        return StructType(
            [StructField(c, LongType(), nullable=False) for c in catalog[table]]
        )

    def reader(self, schema: StructType) -> MiniSQLReader:
        table, data_dir = self._table_and_dir()
        version = self.options.get("versionAsOf")
        if version is not None:
            # time travel: read an archived version written with
            # option("retain", "true") instead of the current table
            csv_path = os.path.join(
                data_dir, ".versions", f"{table}.v{int(version)}.csv"
            )
            if not os.path.exists(csv_path):
                raise EngineError(
                    f"version {version} of table {table!r} not retained "
                    f"(write with option('retain', 'true'))"
                )
        else:
            csv_path = os.path.join(data_dir, f"{table}.csv")
        if not os.path.exists(csv_path):
            raise EngineError(f"table file not found: {csv_path}")
        # Serve a pushFilters-capable reader ONLY for opt-in reads.
        # Spark 4.1's planning worker raises DATA_SOURCE_PUSHDOWN_DISABLED
        # for any reader that merely IMPLEMENTS pushFilters while
        # spark.sql.python.filterPushdown.enabled is off — and queries may
        # run under a caller-owned session with default confs (round 5's
        # only failure class). reader() itself executes inside Spark's
        # Python planning worker, where the session conf is unreadable
        # (no active session), so the gate must be the read option, which
        # travels with the DataSource. Opt-in reads get the conf from
        # register(); default reads are un-killable by construction.
        pushdown = self.options.get("pushdown", "false").lower() == "true"
        cls = MiniSQLPushdownReader if pushdown else MiniSQLReader
        return cls(
            csv_path,
            int(self.options.get("numPartitions", "4")),
            [f.name for f in schema.fields],
            enable_pushdown=pushdown,
        )

    def writer(self, schema: StructType, overwrite: bool) -> "MiniSQLWriter":
        table, data_dir = self._table_and_dir()
        return MiniSQLWriter(
            data_dir,
            table,
            [f.name for f in schema.fields],
            overwrite,
            retain=self.options.get("retain", "false").lower() == "true",
        )

    def simpleStreamReader(self, schema: StructType) -> "MiniSQLStreamReader":
        table, data_dir = self._table_and_dir()
        return MiniSQLStreamReader(os.path.join(data_dir, f"{table}.csv"))

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise EngineError(
                "minisql streaming sink supports append mode only"
            )
        table, data_dir = self._table_and_dir()
        return MiniSQLStreamWriter(
            data_dir, table, [f.name for f in schema.fields]
        )


def _parse_lines(chunk: bytes) -> list[tuple]:
    return [
        tuple(int(f.strip().strip(b'"')) for f in ln.split(b","))
        for ln in chunk.splitlines()
        if ln.strip()
    ]


class MiniSQLStreamReader(SimpleDataSourceStreamReader):
    """Tail a growing native CSV: ``spark.readStream.format("minisql")``.

    The offset is a byte position; each micro-batch reads from the last
    committed position up to the last COMPLETE line (a producer may be
    mid-append), and `readBetweenOffsets` replays any byte range
    exactly — which is what makes checkpoint recovery deterministic.
    The simple (non-partitioned, driver-side) reader variant fits this
    format: a single growing CSV is inherently a low-throughput control
    feed; a partitioned `streamReader` would be the path for real
    volume, and parquet the steady state.
    """

    def __init__(self, csv_path: str) -> None:
        self._path = csv_path

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        pos = start["pos"]
        size = os.path.getsize(self._path) if os.path.exists(self._path) else 0
        if size <= pos:
            return iter([]), {"pos": pos}
        with open(self._path, "rb") as fh:
            fh.seek(pos)
            chunk = fh.read(size - pos)
        last_nl = chunk.rfind(b"\n")
        if last_nl < 0:
            return iter([]), {"pos": pos}
        return iter(_parse_lines(chunk[: last_nl + 1])), {"pos": pos + last_nl + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        with open(self._path, "rb") as fh:
            fh.seek(start["pos"])
            chunk = fh.read(end["pos"] - start["pos"])
        return iter(_parse_lines(chunk))

    def commit(self, end: dict) -> None:
        pass


class _Fragment(WriterCommitMessage):
    def __init__(self, path: str) -> None:
        self.path = path


def _write_fragment(staging: str, iterator) -> _Fragment:
    """Executor side of both writers: one task's rows as a private
    headerless integer CSV fragment under ``staging``."""
    import uuid

    frag = os.path.join(staging, f"part-{uuid.uuid4().hex}.csv")
    with open(frag, "w") as fh:
        for row in iterator:
            fh.write(",".join(str(int(v)) for v in row) + "\n")
    return _Fragment(frag)


def _checked_catalog(data_dir: str, table: str, columns: list[str]) -> dict:
    """``metadata.txt`` of ``data_dir`` (empty if none yet); raises when
    ``table`` is registered with a column list other than ``columns``."""
    meta_path = os.path.join(data_dir, "metadata.txt")
    catalog = load_metadata(meta_path) if os.path.exists(meta_path) else {}
    if table in catalog and catalog[table] != columns:
        raise EngineError(
            f"schema mismatch for {table!r}: catalog has "
            f"{catalog[table]}, writing {columns}"
        )
    return catalog


def commit_table(
    data_dir: str,
    table: str,
    columns: list[str],
    fragments: Sequence[str],
    overwrite: bool,
    keep_bytes: int | None = None,
) -> str:
    """Driver-side commit of the native format; returns ``<table>.csv``.

    The one implementation behind every writer of the format: the
    Python batch writer, the streaming sink, and the JVM-written state
    tables of ``streaming/upsert.py``. Checks ``columns`` against
    ``metadata.txt``, concatenates the prior table (when appending;
    only its first ``keep_bytes`` with that given) and then
    ``fragments`` in order into a temp file, moves it onto
    ``<table>.csv`` with one atomic ``os.replace``, and registers a new
    table in ``metadata.txt``. A crash before the swap leaves the
    previous table intact and readers never observe a partial file.

    Single-concurrent-writer assumption: append is read-merge-replace,
    so two simultaneous appends to the SAME table race on the replace
    and the last one wins (dropping the other's rows) — acceptable for
    a single-file compatibility format; concurrent multi-writer append
    needs a real table format (Iceberg/Delta) instead.
    """
    import shutil
    import uuid

    catalog = _checked_catalog(data_dir, table, columns)
    final = os.path.join(data_dir, f"{table}.csv")
    merged = os.path.join(data_dir, f".{table}.merge-{uuid.uuid4().hex[:8]}")
    try:
        with open(merged, "wb") as out:
            if not overwrite and os.path.exists(final):
                left = os.path.getsize(final) if keep_bytes is None else keep_bytes
                with open(final, "rb") as prev:
                    # bounded chunks: a streamed table grows for the
                    # stream's lifetime, so never buffer it whole
                    while left > 0 and (chunk := prev.read(min(1 << 20, left))):
                        out.write(chunk)
                        left -= len(chunk)
            for path in fragments:
                with open(path, "rb") as frag:
                    shutil.copyfileobj(frag, out)
        os.replace(merged, final)
    finally:
        if os.path.exists(merged):
            os.remove(merged)
    if table not in catalog:
        with open(os.path.join(data_dir, "metadata.txt"), "a") as mf:
            mf.write(f"<begin_table>\n{table}\n" + "\n".join(columns) + "\n<end_table>\n")
    return final


class MiniSQLWriter(DataSourceWriter):
    """Two-phase commit into the reference's single-CSV-per-table format.

    Each task streams its rows to a private staging fragment (`write`,
    executor-side); the driver-side `commit` hands the fragments to
    :func:`commit_table`, the format's one shared commit (the JVM-written
    streaming state tables use it too), so readers never observe a
    partial table and a failed job leaves the previous table intact
    (`abort` removes the staging dir). The single-file merge is the
    FORMAT's inherent bottleneck, not the writer's: this sink is the
    compatibility export path back to the reference engine; parquet is
    the scale path.

    ``mode("append")`` appends rows to an existing table of the same
    columns; ``mode("overwrite")`` replaces it.
    """

    def __init__(
        self,
        data_dir: str,
        table: str,
        columns: list[str],
        overwrite: bool,
        retain: bool = False,
    ) -> None:
        self.data_dir = data_dir
        self.table = table
        self.columns = columns
        self.overwrite = overwrite
        self.retain = retain
        import uuid

        self.staging = os.path.join(data_dir, f".{table}.staging-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator) -> _Fragment:
        return _write_fragment(self.staging, iterator)

    def commit(self, messages) -> None:
        import shutil

        final = commit_table(
            self.data_dir,
            self.table,
            self.columns,
            [m.path for m in messages if m is not None],
            self.overwrite,
        )
        if self.retain:
            # time travel: archive THIS committed version under
            # .versions/<table>.v{N}.csv (N monotonic). The archive
            # happens after the main swap — a crash in between loses
            # only the archive copy of this one version, never current
            # state. Versions are retained until manually vacuumed;
            # read them back with option("versionAsOf", N). This is
            # the single-file stand-in for a table format's snapshot
            # log: same read contract, none of the manifest machinery.
            vdir = os.path.join(self.data_dir, ".versions")
            os.makedirs(vdir, exist_ok=True)
            existing = [
                int(f.rsplit(".v", 1)[1][:-4])
                for f in os.listdir(vdir)
                if f.startswith(f"{self.table}.v") and f.endswith(".csv")
            ]
            n = max(existing, default=0) + 1
            vtmp = os.path.join(vdir, f".{self.table}.v{n}.tmp")
            shutil.copyfile(final, vtmp)
            os.replace(vtmp, os.path.join(vdir, f"{self.table}.v{n}.csv"))
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class MiniSQLStreamWriter(DataSourceStreamWriter):
    """First-class streaming SINK for the native format —
    ``writeStream.format("minisql")`` in append mode, exactly-once.

    Idempotency is TRUNCATION-based, sized to a single-file format:
    before the data swap, the commit LOG (``<table>.streamlog.json``,
    atomically replaced as a whole) records ``batchId -> size_before``
    (the table's byte length before this batch). A replayed commit —
    after a crash anywhere between log write and data swap, or a whole
    re-run against the same checkpoint — finds its batchId in the log,
    truncates the table back to ``size_before`` (append-only, so the
    batch's bytes are exactly the tail) and re-appends the re-executed
    fragments: the table converges to the same bytes no matter where
    the previous attempt died. Later batches only commit after this
    one succeeds, so the truncation window can never clip a successor.

    Same single-concurrent-writer assumption and the same
    :func:`commit_table` as the batch writer; the scale path is a real
    table format — this sink is the streaming half of the
    reference-format compatibility story (the connector covers read,
    write, stream-read, and stream-write).
    """

    def __init__(self, data_dir: str, table: str, columns: list[str]) -> None:
        import uuid

        self.data_dir = data_dir
        self.table = table
        self.columns = columns
        self.staging = os.path.join(
            data_dir, f".{table}.stream-staging-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator) -> _Fragment:
        return _write_fragment(self.staging, iterator)

    def _log_path(self) -> str:
        return os.path.join(self.data_dir, f"{self.table}.streamlog.json")

    def commit(self, messages, batchId: int) -> None:
        import json

        final = os.path.join(self.data_dir, f"{self.table}.csv")
        # Schema guard FIRST — before the commit-log write and the data
        # swap — so a schema-drifted batch is rejected with the table
        # bytes AND the streamlog untouched. Checking after the swap
        # would record + append the bad batch and only then raise,
        # leaving the table corrupted.
        _checked_catalog(self.data_dir, self.table, self.columns)
        logp = self._log_path()
        log: dict[str, int] = {}
        if os.path.exists(logp):
            with open(logp) as fh:
                log = json.load(fh)
        key = str(int(batchId))
        if key in log:
            size_before = log[key]  # replay: undo the previous attempt
        else:
            size_before = os.path.getsize(final) if os.path.exists(final) else 0
            # Batches commit strictly in order, so only the LATEST
            # batchId can ever be replayed — prune every older entry
            # when recording a new one. The log stays O(1) instead of
            # gaining one entry per micro-batch for the stream's life
            # (it is rewritten wholesale on each commit either way).
            log = {key: size_before}
            tmp = logp + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(log, fh)
            os.replace(tmp, logp)  # log lands BEFORE the data swap
        frags = [m.path for m in messages if m is not None]
        commit_table(
            self.data_dir, self.table, self.columns, frags, False, size_before
        )
        for path in frags:  # fragments are per-batch scratch
            if os.path.exists(path):
                os.remove(path)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


def register(spark: SparkSession) -> None:
    """Idempotently register the connector with the session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (a runtime
    session conf) so pushdown-capable reads work even when the session
    was built without :func:`mini_sql_engine_spark.session.get_spark` —
    e.g. the correctness driver's default session. Harmless for every
    other source (the conf only governs Python data sources), and the
    conf-gated reader above keeps the connector working even if this
    set is rejected by a locked-down session.
    """
    spark.dataSource.register(MiniSQLDataSource)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
