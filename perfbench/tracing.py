"""Tracing for the benchmark's traced run.

Two sources, both outside the program:

- spans: ``Tracer.install`` wraps public functions of the program's
  layers (``plans``, ``engine``, ``catalog``, ``operators``,
  ``streaming``, ``sources``) and records name, start, end, parent and
  op id per call, in memory;
- Spark's event log (enabled for the traced run only): jobs, tasks,
  shuffle, spill and Python-runner counts, attributed to ops through
  the job group the benchmark sets before each op.

``Tracer.uninstall`` restores every patched attribute, so the untraced
ops of a traced run execute the program unmodified.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

SPANS_FILE = "spans.jsonl"  # a traced run's spans, one JSON object a line


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None  # one closed-loop client: one current op
        self.counts: dict[str, int] = defaultdict(int)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.installed = False
        self._scans: dict[int, object] = {}  # id -> DataFrame load_table returned
        self._puts: dict[tuple[int, str], float] = {}  # (memo, sf_dir) -> put time
        self.epoch = 0.0  # start of the current curation iteration

    # ------------------------------------------------------------ spans
    def span(self, name: str):
        return _SpanCtx(self, name)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            tracer._observe(name, args, out)
            return out

        return traced

    def _observe(self, name: str, args: tuple, out) -> None:
        if name == "catalog.load_table":
            # a hit: the same DataFrame object was returned before
            self.counts["catalog.load_table_calls"] += 1
            self.counts["catalog.scan_memo_hits"] += id(out) in self._scans
            self._scans[id(out)] = out
        elif name == "catalog.dfmemo_get":
            self.counts["catalog.dfmemo_gets"] += 1
            if out is not None:
                self.counts["catalog.dfmemo_hits"] += 1
                # stale: the entry was stored before this iteration began
                put = self._puts.get((id(args[0]), args[2]), 0.0)
                self.counts["catalog.dfmemo_stale_hits"] += put < self.epoch
        elif name == "catalog.dfmemo_put":
            self.counts["catalog.dfmemo_puts"] += 1
            self._puts[(id(args[0]), args[1])] = time.perf_counter()

    # ---------------------------------------------------------- patching
    def _patch(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(name, raw.__func__))
        else:
            new = self.wrap(name, raw)
        self._patched.append((owner, attr, raw))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap the layer entry points. ``load_table`` is imported by
        name into many modules, so every module-level binding of it is
        replaced, not only the catalog's own."""
        from mini_sql_engine_spark import catalog, engine
        from mini_sql_engine_spark.operators import ALL_QUERIES  # noqa: F401 (imports packs)

        self._patch(engine, "parse_query", "plans.parse")
        self._patch(engine, "analyze", "plans.analyze")
        self._patch(engine, "build_dataframe", "plans.build")
        for meth in ("sql", "ansi_sql", "from_parquet_dir", "from_datasource_dir"):
            self._patch(engine.Engine, meth, f"engine.{meth}")
        self._patch(catalog.DFMemo, "get", "catalog.dfmemo_get")
        self._patch(catalog.DFMemo, "put", "catalog.dfmemo_put")
        # scans loaded before tracing started count as earlier returns
        for df in catalog._SCAN_MEMO.values():
            self._scans.setdefault(id(df), df)
        original = catalog.load_table
        traced = self.wrap("catalog.load_table", original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("mini_sql_engine_spark") and \
                    getattr(mod, "load_table", None) is original:
                self._patched.append((mod, "load_table", original))
                setattr(mod, "load_table", traced)
        self.installed = True

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()
        self.installed = False

    # ------------------------------------------------------- aggregation
    def self_times_ms(self) -> dict[str, float]:
        """Per-span-name total self time: duration minus the union of
        its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] += (s.end - s.start - covered) * 1e3
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        st = self.t._stack()
        self.parent = st[-1] if st else None
        self.sid = next(self.t._ids)
        st.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t._stack().pop()
        self.t.spans.append(Span(self.sid, self.name, self.start, end, self.parent, self.t.op))
        return False


# ------------------------------------------------------------ event log

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
_PY_NODE = ("Python", "Pandas", "Arrow")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle bytes written, spilled bytes,
    input records, and rows and bytes through Python workers. Rows are
    the output-row metric of plan nodes that run Python (read from the
    SQL plan events, so Catalyst nodes' row counts are not mixed in)."""
    events = []
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    py_row_accums: set[int] = set()
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                if any(k in node.get("nodeName", "") for k in _PY_NODE):
                    py_row_accums.update(m["accumulatorId"] for m in node.get("metrics", [])
                                         if m["name"] == "number of output rows")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif e["Event"] == "SparkListenerTaskEnd":
            g = out[stage_group.get(e["Stage ID"], "-")]
            tm = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g["records_read"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            for a in e["Task Info"].get("Accumulables", []):
                name = a.get("Name")
                if name in ("data sent to Python workers", "data returned from Python workers"):
                    g["python_bytes"] += float(a.get("Update") or 0)
                elif name == "number of output rows" and a.get("ID") in py_row_accums:
                    g["python_rows"] += float(a.get("Update") or 0)
    return {k: dict(v) for k, v in out.items()}
