"""One benchmark run inside a fresh process: set up the program, run one
workload as a single closed-loop client for the configured seconds,
check the outputs outside the timed region, and write a result file.
Launched by ``run.py``, which owns input generation, isolation and the
printed result. Memory is read before the checks run, and the checker
(with DuckDB) is imported only then, so the memory figures are the
program's alone.

Usage: python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import EVENT_LOG_CONF, SPANS_FILE, Tracer, parse_event_log  # noqa: E402

# the LLM-data-prep chain in pipeline order, with each op's pack
CHAIN = (
    ("ext_dedup_exact", "dedup"),
    ("ext_dedup_minhash_lsh", "dedup"),
    ("ext_dedup_jaccard", "dedup"),
    ("ext_dedup_clusters", "dedup"),
    ("ext_dedup_simhash", "dedup"),
    ("ext_dedup_embedding", "dedup"),
    ("ext_sim_ann_lsh_topk", "similarity"),
    ("ext_text_quality", "text"),
    ("ext_text_language_id", "text"),
    ("ext_text_tfidf", "text"),
    ("ext_semdedup", "quality"),
)
PACKS = ("dedup", "similarity", "text", "quality", "tpch")
CORPUS_DOCS, CORPUS_EMB, WARM_DOCS = 300, 150, 50
# corpora a run measures: a chain costs 6 to 12 s warm whatever the
# corpus size (150 to 600 documents; the cost is per operator call), so
# more, smaller corpora do not fit a run
CHAINS_PER_RUN = 2
FEED_BATCH_EVENTS, WARM_BATCHES = 4000, 2
# feed files a run measures, a whole round whatever the machine's speed:
# the first timed files are still the slowest, so the median would
# otherwise depend on how many fit the run's seconds. Every round of
# every workload outlasts the 1 s run_seconds of BENCHMARK.json, so a
# run measures exactly one round: at 5 s, a fast spell of the machine
# finished four feed files in time to start a second round of four
FEED_ROUND = 6
# curation warm-up ops (not timed) run on this many threads at once;
# the timed loop is always one client. sql_interactive's warm-up round
# is sent one query at a time, as the client sends them: after a
# warm-up on four threads at once, the first timed round's median
# dialect query was about a fifth slower than the next round's
WARM_THREADS = 4
# pause between retained-heap readings, and the most readings after the first
SETTLE_S, SETTLE_ROUNDS = 0.5, 5
UNTRACED = "untraced:"


def _identity(batches):
    yield from batches


def _rss_mb(pid: int, field: str = "VmHWM") -> float:
    """Peak (VmHWM) or current (VmRSS) resident set of a process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _retained_mb(spark) -> tuple[float, float]:
    """Memory kept after the work: this Python process's resident set,
    and the JVM heap still live after a full collection (persisted
    blocks, cached plans, session state), MiB.

    A heap reading is the least of three full collections: a collection
    can leave garbage that a background thread made meanwhile. A
    collection also hands Spark's cleaner thread the shuffles,
    broadcasts and RDDs it found dead, and what the cleaner releases is
    garbage only for the next collection; so the heap is read again
    after a pause until it stops falling (within 1 MiB). Read once, it
    was 25 to 140 % higher, by an amount that varied from run to run."""
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()

    def heap() -> float:
        readings = []
        for _ in range(3):
            jvm.java.lang.System.gc()
            readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        return min(readings)

    least = heap()
    for _ in range(SETTLE_ROUNDS):
        time.sleep(SETTLE_S)
        now = heap()
        if now > least - 1.0:
            break
        least = now
    return _rss_mb(os.getpid(), "VmRSS"), min(least, now)


class Run:
    """One run: the session, samples, failures and (traced) the tracer.

    Samples are keyed by label + name. A traced run alternates ops
    without spans (label ``untraced:``) and with them (label ""), which
    gives the tracing overhead.
    """

    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.seed = cfg["seed"]
        self.seconds = cfg["seconds"]
        self.work = cfg["work_dir"]
        self.tracer = Tracer() if cfg["trace"] else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_end: float | None = None
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        self.groups: dict[str, tuple[str, str]] = {}  # job group -> (kind, pack)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        msg = what if exc is None else f"{what}: {type(exc).__name__}: {exc}"
        self.errors.append(msg[:400])
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    @property
    def tracing(self) -> bool:
        return bool(self.tracer and self.tracer.installed)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def tag(self, group: str, kind: str = "", pack: str = "") -> None:
        """While tracing, tag the op's Spark jobs with a job group, which
        the event-log parse attributes to the op (and its pack)."""
        if self.tracing:
            self.tracer.op = group
            self.groups[group] = (kind, pack)
            self.spark.sparkContext.setJobGroup(group, group)

    def check(self, key: str, fn_name: str, *args) -> None:
        """Run an output check of ``checks`` (after the timed loop and the
        memory readings); time it for the report."""
        import checks

        t = time.perf_counter()
        self.report[key] = getattr(checks, fn_name)(self, *args)
        self.report["checks_s"] = time.perf_counter() - t

    def start_timing(self) -> None:
        if self.setup_end is None:
            self.setup_end = time.time()
            self.report["warmup_s"] = self.setup_end - self.cfg["t_launch"] - self.report["import_s"] - self.report["session_s"]

    # ---------------------------------------------------------- setup
    def setup_session(self) -> None:
        from mini_sql_engine_spark.session import get_spark

        extra = None
        if self.tracer:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir})
        t = time.perf_counter()
        self.report["import_s"] = time.time() - self.cfg["t_launch"]
        self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        self.layers["session.spark_start_s"] = self.report["session_s"] = time.perf_counter() - t
        if self.tracer:
            # probe: the first Python-worker job starts one worker per
            # core; untraced runs leave that cost to the first op that
            # needs Python workers (sql_interactive never does)
            t = time.perf_counter()
            n = self.spark.sparkContext.defaultParallelism
            (self.spark.range(0, n * 100, numPartitions=n)
             .mapInPandas(_identity, "id long").count())
            self.layers["session.worker_pool_s"] = time.perf_counter() - t

    def measure(self, body, round_len: int = 1) -> None:
        """Closed loop: call body(label) until the run's seconds are
        used, and a whole number of rounds of ``round_len`` calls. A
        traced run alternates: even calls run the program unmodified
        (label ``untraced:``), odd calls with spans installed (label ""),
        so warm-up trends fall on both sides alike; it makes at least
        one call of each."""
        min_calls = 2 if self.tracer else 1
        t0 = time.perf_counter()
        i = 0
        while i < min_calls or i % round_len or time.perf_counter() - t0 < self.seconds:
            traced = self.tracer is not None and i % 2 == 1
            if traced:
                self.tracer.install()
            try:
                body(UNTRACED if self.tracer and not traced else "")
            finally:
                if traced:
                    self.tracer.uninstall()
            i += 1
        self.sample("loop_s", time.perf_counter() - t0)

    # ------------------------------------------------------ workloads
    # Each workload returns its output check, (report key, checks function,
    # arguments), which main runs once memory has been read.
    def sql_interactive(self) -> tuple:
        from mini_sql_engine_spark.engine import Engine
        from mini_sql_engine_spark.operators import ALL_QUERIES

        cat = self.cfg["catalog_dir"]
        eng = Engine.from_parquet_dir(self.spark, cat)
        stream = gen.query_stream(self.seed)
        results: list[tuple] = []

        def run_one(kind: str, shape: str, text: str, group: str):
            pack = "tpch" if shape.startswith("tpch_") else ""
            self.tag(group + "|plan", kind, pack)
            t = time.perf_counter()
            if kind == "dialect":
                df = eng.sql(text)
            elif shape == "q6_sql":
                df = eng.ansi_sql(text)
            else:
                with self.span("operators.tpch.plan"):
                    df = ALL_QUERIES[text](self.spark, cat)
            self.tag(group, kind, pack)
            with self.span("operators.tpch.exec" if pack else "engine.exec"):
                rows = df.collect()
            return rows, df.columns, (time.perf_counter() - t) * 1e3

        for q in gen.warmup_queries(self.seed):
            run_one(*q, "warm")

        def body(label: str) -> None:
            kind, shape, text = next(stream)
            group = f"{label}q{len(results)}"
            self.start_timing()
            self.attempted += 1
            try:
                rows, cols, lat = run_one(kind, shape, text, group)
            except Exception as exc:  # a failed op is counted; the client goes on
                self.fail(f"{kind} {text}", exc)
                return
            self.sample(label + kind, lat)
            self.sample(label + "rows_out." + kind, len(rows))
            results.append((group, kind, shape, text, rows, cols))

        self.measure(body, round_len=gen.ROUND)
        return "queries_ok", "check_sql", cat, results

    def curation_batch(self) -> tuple:
        from mini_sql_engine_spark.operators import ALL_ORACLES, ALL_QUERIES

        corpora: list[dict] = []

        def corpus(it: int, n_docs: int, n_emb: int) -> str:
            d = os.path.join(self.work, f"corpus{it}")
            corpora.append(gen.write_corpus(self.seed, it, d, n_docs, n_emb))
            return d

        warm_dir = corpus(-1, WARM_DOCS, WARM_DOCS)
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            list(pool.map(lambda op: ALL_QUERIES[op[0]](self.spark, warm_dir).collect(), CHAIN))
        outputs: list[tuple] = []
        iteration = [0]

        def body(label: str) -> None:
            it = iteration[0] = iteration[0] + 1
            d = corpus(it, CORPUS_DOCS, CORPUS_EMB)  # fresh corpus, outside the timing
            t_iter = time.perf_counter()
            if self.tracer:
                self.tracer.epoch = t_iter
            self.start_timing()
            for name, pack in CHAIN:
                group = f"{label}{name}@{it}"
                self.attempted += 1
                t = time.perf_counter()
                try:
                    self.tag(group + "|plan", "op", pack)
                    with self.span(f"operators.{pack}.plan"):
                        df = ALL_QUERIES[name](self.spark, d)
                    self.tag(group, "op", pack)
                    with self.span(f"operators.{pack}.exec"):
                        rows = df.collect()
                except Exception as exc:
                    self.fail(f"{name} on {d}", exc)
                    continue
                self.sample(label + "op", (time.perf_counter() - t) * 1e3)
                outputs.append((group, name, d, rows, df.columns))
            self.sample(label + "chain_ms", (time.perf_counter() - t_iter) * 1e3)
            self.sample(label + "docs", CORPUS_DOCS)

        # a chain takes longer than the run's seconds, so a run measures a
        # whole round of CHAINS_PER_RUN corpora: memory kept (retained_mb)
        # and the sample count do not depend on how fast the machine is
        self.measure(body, round_len=CHAINS_PER_RUN)
        self.report["corpora"] = corpora
        return "oracle_checks_ok", "check_curation", ALL_ORACLES, outputs

    def stream_ingest(self) -> tuple:
        from pyspark.sql import functions as F

        from mini_sql_engine_spark.engine import Engine
        from mini_sql_engine_spark.sources import datasource
        from mini_sql_engine_spark.streaming import upsert

        spark = self.spark
        datasource.register(spark)
        base = self.work
        feed, staging = os.path.join(base, "feed"), os.path.join(base, "staging")
        state_dir, sink_dir = os.path.join(base, "state"), os.path.join(base, "sink")
        for d in (feed, staging, state_dir, sink_dir):
            os.makedirs(d)
        bytes_written = [0]

        def merge(df, batch_id):
            with self.span("streaming.merge_batch"):
                upsert.merge_batch(df, batch_id, state_dir, "user_totals")
            if self.tracing:
                bytes_written[0] += os.path.getsize(os.path.join(state_dir, "user_totals.csv"))

        source = (spark.readStream.schema("event_id long, user_id long, value double")
                  .option("maxFilesPerTrigger", 1).parquet(feed))
        q_merge = (source.writeStream.foreachBatch(merge)
                   .option("checkpointLocation", os.path.join(base, "chk_merge")).start())
        q_sink = (source.select("event_id", "user_id", upsert._cents("value").alias("cents"))
                  .writeStream.format("minisql")
                  .option("path", sink_dir).option("table", "sink_feed")
                  .option("checkpointLocation", os.path.join(base, "chk_sink")).start())
        batches = [0]

        def send() -> dict:
            """Drop the next feed file into the watched directory and wait
            until both sinks have committed it. The time starts at the
            move: the file is written before, outside it."""
            b = batches[0] = batches[0] + 1
            info = gen.write_event_batch(self.seed, b, staging, FEED_BATCH_EVENTS)
            t = time.perf_counter()
            os.rename(os.path.join(staging, info["file"]), os.path.join(feed, info["file"]))
            q_merge.processAllAvailable()
            q_sink.processAllAvailable()
            info["ms"] = (time.perf_counter() - t) * 1e3
            return info

        def read_back(label: str) -> tuple[list, list]:
            t = time.perf_counter()
            with self.span("sources.read"):
                back = (spark.read.format("minisql").option("path", sink_dir)
                        .option("table", "sink_feed").load())
                sink_rows = back.groupBy("user_id").agg(F.count(F.lit(1)), F.sum("cents")).collect()
            self.sample(label + "readback", (time.perf_counter() - t) * 1e3)
            t = time.perf_counter()
            eng = Engine.from_datasource_dir(spark, state_dir)
            with self.span("engine.exec"):
                state_rows = eng.sql("SELECT * FROM user_totals WHERE user_id >= 0;").collect()
            self.sample(label + "readback", (time.perf_counter() - t) * 1e3)
            if self.tracing:
                self.sample("read_partitions", back.rdd.getNumPartitions())
            return sink_rows, state_rows

        for _ in range(WARM_BATCHES):
            send()
        user_bytes = [0]

        def body(label: str) -> None:
            self.start_timing()
            self.tag(f"{label}batch{batches[0] + 1}", "ingest")
            self.attempted += 1
            try:
                info = send()
            except Exception as exc:  # counted as a failed op; the client goes on
                self.fail(f"feed batch {batches[0]}", exc)
                return
            self.sample(label + "batch", info["ms"])
            self.sample(label + "events", info["events"])
            user_bytes[0] += info["user_bytes"]

        self.measure(body, round_len=FEED_ROUND)
        for q in (q_merge, q_sink):
            progress = [p for p in q.recentProgress if p.numInputRows > 0][WARM_BATCHES:]
            for p in progress:
                self.sample("commit", float(p.durationMs["triggerExecution"]))
                for key in ("addBatch", "queryPlanning", "walCommit"):
                    self.sample("progress." + key, float(p.durationMs.get(key, 0)))
            q.stop()
            if len(progress) != batches[0] - WARM_BATCHES:
                self.fail(f"{len(progress)} commits for {batches[0] - WARM_BATCHES} feed batches")
        self.attempted += 2
        if self.tracer:
            self.tracer.install()
        try:
            sink_rows, state_rows = read_back("")
        finally:
            if self.tracer:
                self.tracer.uninstall()
        self.bytes_written = bytes_written[0]
        self.state_bytes = os.path.getsize(os.path.join(state_dir, "user_totals.csv"))
        self.user_bytes = user_bytes[0]
        self.report["feed"] = {"events_per_batch": FEED_BATCH_EVENTS, "users": gen.FEED_USERS,
                               "zipf_a": gen.FEED_ZIPF_A, "batches": batches[0]}
        return "state_checks_ok", "check_ingest", feed, sink_rows, state_rows

    # ------------------------------------------------------- layers
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers from the traced (second) half."""
        tr = self.tracer
        self_ms = tr.self_times_ms()
        jobs = parse_event_log(os.path.join(self.work, "eventlog"))
        L = dict(self.layers)

        def mean(xs) -> float:
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        def groups(kind: str = "", pack: str = "", phase: str = "all"):
            """Event-log totals per traced op (plan and exec phases merged
            unless a phase is given)."""
            per_op: dict[str, dict[str, float]] = {}
            for g, (k, p) in self.groups.items():
                if (kind and k != kind) or (pack and p != pack):
                    continue
                is_plan = g.endswith("|plan")
                if (phase == "plan" and not is_plan) or (phase == "exec" and is_plan):
                    continue
                acc = per_op.setdefault(g.split("|")[0], {})
                for key, v in jobs.get(g, {}).items():
                    acc[key] = acc.get(key, 0.0) + v
            return per_op

        n_dialect = len(self.samples.get("dialect", []))
        for name in ("parse", "analyze", "build"):
            L[f"plans.{name}_ms"] = self_ms.get(f"plans.{name}", 0.0) / max(1, n_dialect)
        dialect = groups(kind="dialect")
        L["engine.exec_ms"] = mean(tr.durations_ms("engine.exec"))
        L["engine.jobs_per_query"] = mean(g.get("jobs", 0) for g in dialect.values())
        L["engine.tasks_per_query"] = mean(g.get("tasks", 0) for g in dialect.values())
        rows_out = sum(self.samples.get("rows_out.dialect", []))
        L["engine.rows_read_per_row_out"] = (
            sum(g.get("records_read", 0) for g in dialect.values()) / max(1, rows_out))
        c = tr.counts
        L["catalog.load_table_ms"] = mean(tr.durations_ms("catalog.load_table"))
        L["catalog.scan_memo_hit_ratio"] = c["catalog.scan_memo_hits"] / max(1, c["catalog.load_table_calls"])
        L["catalog.dfmemo_hit_ratio"] = c["catalog.dfmemo_hits"] / max(1, c["catalog.dfmemo_gets"])
        L["catalog.dfmemo_stale_hit_ratio"] = (
            c["catalog.dfmemo_stale_hits"] / max(1, c["catalog.dfmemo_gets"]))
        L["catalog.dfmemo_puts"] = c["catalog.dfmemo_puts"] / max(1, len(groups()))
        for pack in PACKS:
            ops = groups(pack=pack)
            n_ops = max(1, len(ops))
            L[f"operators.{pack}.plan_ms"] = self_ms.get(f"operators.{pack}.plan", 0.0) / n_ops
            L[f"operators.{pack}.exec_ms"] = self_ms.get(f"operators.{pack}.exec", 0.0) / n_ops
            L[f"operators.{pack}.eager_jobs"] = sum(
                g.get("jobs", 0) for g in groups(pack=pack, phase="plan").values()) / n_ops
            for key in ("shuffle_bytes", "spill_bytes"):
                L[f"operators.{pack}.{key}"] = sum(g.get(key, 0) for g in ops.values()) / n_ops
        everything = groups().values()
        L["functions.python_rows"] = mean(g.get("python_rows", 0) for g in everything)
        L["functions.python_bytes"] = mean(g.get("python_bytes", 0) for g in everything)
        L["streaming.batches"] = len(self.samples.get("commit", []))  # both sinks, timed
        L["streaming.merge_batch_ms"] = mean(tr.durations_ms("streaming.merge_batch"))
        for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms")):
            L[f"streaming.{name}"] = mean(self.samples.get("progress." + key, []))
        traced_events = sum(self.samples.get("events", []))
        L["sources.bytes_written_per_event"] = getattr(self, "bytes_written", 0) / max(1, traced_events)
        L["sources.state_bytes_per_user_byte"] = (
            getattr(self, "state_bytes", 0) / max(1, getattr(self, "user_bytes", 0)))
        L["sources.read_ms"] = mean(tr.durations_ms("sources.read"))
        L["sources.read_partitions"] = mean(self.samples.get("read_partitions", []))
        tr.dump(os.path.join(self.work, SPANS_FILE))
        return L


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    run = Run(cfg)
    run.setup_session()
    check = getattr(run, cfg["workload"])()
    jvm_pid = int(run.spark._jvm.java.lang.ProcessHandle.current().pid())
    peak_mb = _rss_mb(os.getpid()) + _rss_mb(jvm_pid)
    retained = _retained_mb(run.spark)
    run.report["retained_python_mb"], run.report["retained_jvm_mb"] = retained
    run.check(*check)
    res = {
        "setup_s": run.setup_end - cfg["t_launch"],
        "peak_rss_mb": peak_mb,
        "retained_mb": sum(retained),
        "samples": run.samples,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "report": run.report,
    }
    if run.tracer:
        run.spark.stop()  # flushes the event log
        res["layers"] = run.layer_metrics()
    # an untraced run leaves the JVM and Python workers to run.py, which
    # kills the process group: there is nothing of theirs to keep
    with open(cfg["result_path"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
