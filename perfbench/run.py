"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the run's inputs from the seed,
launches ``worker.py`` in a fresh process (fresh JVM) with its own
``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under ``.perfbench_runs/`` and the
repository root on the Python workers' path, then prints a report line
and, as the last line, the result JSON. The run directory is deleted at
the end; a traced run's spans are kept as
``.perfbench_runs/<workload>-<seed>.spans.jsonl``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the per-layer ones. See
``perfbench/README.md`` for what each metric means per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("sql_interactive", "curation_batch", "stream_ingest")
# the end-to-end metrics: (name, unit)
END_TO_END = (
    ("setup_s", "s"),
    ("retained_mb", "MiB"),
    ("throughput_per_s", "1/s"),
    ("op_p50_ms", "ms"),
)
# per workload, the sample that is one op: a dialect query; one corpus
# through the whole chain (the median of the chain's eleven unlike
# operator calls jumps between operators from run to run); one
# micro-batch, from the client's move until both sinks committed it
OP_SAMPLE = {"sql_interactive": "dialect", "curation_batch": "chain_ms", "stream_ingest": "batch"}
TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)
WORKER_TIMEOUT_S = 170


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile of TAIL_GRID with at least ten samples
    beyond it; (percentile, value). Below twenty samples, the maximum."""
    for p in TAIL_GRID:
        if len(xs) * (100.0 - p) / 100.0 >= 10:
            return p, percentile(xs, p)
    return 100.0, max(xs)


def throughput(workload: str, s: dict) -> float:
    """Ops over the loop's time; on ``curation_batch`` and
    ``stream_ingest`` over the ops' own times, which leave out writing
    the next corpus or feed file."""
    if workload == "sql_interactive":
        return (len(s.get("dialect", [])) + len(s.get("ansi", []))) / sum(s["loop_s"])
    if workload == "curation_batch":
        return sum(s["docs"]) / sum(s["chain_ms"]) * 1e3
    return sum(s["events"]) / sum(s["batch"]) * 1e3


def report(workload: str, res: dict) -> dict:
    """Every end-to-end number by its workload-specific name, with the
    tail percentile and sample counts used."""
    s = res["samples"]
    out: dict = {"workload": workload, "ops_failed_ratio": res["failed"] / max(1, res["attempted"]),
                 "setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
                 "retained_mb": res["retained_mb"]}

    def latency(prefix: str, key: str) -> None:
        xs = s.get(key, [])
        if not xs:
            return
        p, v = tail(xs)
        out[f"{prefix}_p50_ms"] = percentile(xs, 50)
        out[f"{prefix}_tail_ms"] = v
        out[f"{prefix}_tail_percentile"] = p
        out[f"{prefix}_samples"] = len(xs)

    if workload == "sql_interactive":
        latency("sql.dialect", "dialect")
        latency("sql.ansi", "ansi")
        out["sql.qps"] = throughput(workload, s)
    elif workload == "curation_batch":
        latency("curation.chain", "chain_ms")
        latency("curation.op", "op")
        out["curation.docs_per_s"] = throughput(workload, s)
    else:
        latency("ingest.commit", "commit")
        latency("ingest.batch", "batch")
        latency("ingest.readback", "readback")
        out["ingest.events_per_s"] = throughput(workload, s)
    out.update(res.get("report", {}))
    if res["errors"]:
        out["errors"] = res["errors"][:10]
    return out


def end_to_end(workload: str, res: dict) -> dict:
    s = res["samples"]
    ops = s[OP_SAMPLE[workload]]
    values = {
        "setup_s": res["setup_s"],
        "retained_mb": res["retained_mb"],
        "throughput_per_s": throughput(workload, s),
        "op_p50_ms": percentile(ops, 50),
    }
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}


def per_layer(workload: str, res: dict) -> dict:
    """Per-layer numbers from the traced half, plus the tracing overhead:
    the traced half's op median against the untraced half's."""
    s = res["samples"]
    layers = dict(res["layers"])
    key = OP_SAMPLE[workload]
    base = percentile(s["untraced:" + key], 50)
    layers["trace.overhead_pct"] = 100.0 * (percentile(s[key], 50) - base) / base
    units = _layer_units()
    return {name: {"value": float(layers.get(name, 0.0)), "unit": unit} for name, unit in units}


def _layer_units() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (JVM, Python workers) and
    wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(cfg: dict, work_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
        # the program's UDFs are pickled by module path; the Python
        # workers Spark launches must be able to import it
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cfg = dict(cfg, work_dir=work_dir, result_path=os.path.join(work_dir, "result.json"),
               t_launch=time.time())
    cfg_path = os.path.join(work_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    if code != 0 or not os.path.exists(cfg["result_path"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"worker failed (exit {code})")
    with open(cfg["result_path"]) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mini_sql_engine_spark")):
        print(f"error: the program (mini_sql_engine_spark/) is not under {ROOT}", file=sys.stderr)
        return 2

    import gen
    from tracing import SPANS_FILE

    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    work_dir = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace)}
        if args.workload == "sql_interactive":
            cfg["catalog_dir"] = os.path.join(work_dir, "catalog")
            cfg["catalog_rows"] = gen.write_catalog(args.seed, cfg["catalog_dir"])
        res = run_worker(cfg, work_dir)
        rep = report(args.workload, res)
        if "catalog_rows" in cfg:
            rep["catalog_rows"] = cfg["catalog_rows"]
        if args.trace:
            metrics = per_layer(args.workload, res)
            os.replace(os.path.join(work_dir, SPANS_FILE),
                       os.path.join(runs_dir, f"{args.workload}-{args.seed}.{SPANS_FILE}"))
        else:
            metrics = end_to_end(args.workload, res)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print("report " + json.dumps(rep, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
