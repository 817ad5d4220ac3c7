#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Execution uses the noop sink (full computation, no driver transfer), so
timings measure the engine, not result serialization. Session startup
and first-query JVM warmup are excluded via a warmup action.

Noise discipline (the machine is shared): each LEG is a fresh JVM
subprocess timing every query min-of-2; the output records each leg's
total plus the 1-minute load average around it, so a load spike can't
masquerade as a code regression (round 5's phantom TPC-H 2x). The
default is ONE leg (the caller's timeout is unknown); set
SPARK_GRAFT_BENCH_LEGS=2 for the min-over-two-fresh-JVMs variant. A
leg slower than SPARK_GRAFT_BENCH_LEG_BUDGET seconds (default 420)
suppresses any remaining legs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from mini_sql_engine_spark.operators import ALL_QUERIES
    from mini_sql_engine_spark.session import get_spark

    spark = get_spark(app_name="mini-sql-engine-bench")
    # warmup: JVM + codegen, parquet footers for every table, and the
    # Python/Arrow worker pool (first applyInPandas call pays worker
    # spawn otherwise — that cost is session setup, not query time)
    from mini_sql_engine_spark.catalog import SF_TABLES, load_table

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in SF_TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()
    # spawn the FULL Python/Arrow worker pool (one worker per core):
    # repartition(n_cores) before the grouped map so the first timed
    # query with a 32-partition Python stage doesn't pay worker spawn
    n_cores = spark.sparkContext.defaultParallelism
    spark.range(4096).repartition(n_cores).withColumn(
        "g", F.col("id") % (n_cores * 4)
    ).groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").collect()

    # min over reps: the machine is shared, so a single rep can catch a
    # GC pause or noisy neighbor; min is the standard steady-state
    # estimator for repeatable single-query cost
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(ALL_QUERIES.items()):
        best = float("inf")
        # one broken query must not lose the other 159 timings: record
        # the failure by name and keep timing everything else
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    out = {
        "metric": "sum of per-query wall-clock over all registered queries",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    # The full per-query map (~8 KB for 160 queries) goes first plus to
    # a sidecar file; the LAST stdout line is a compact summary so a
    # consumer that tail-captures limited output still gets parseable
    # JSON with the headline number.
    print(json.dumps(out))
    with open(_sidecar_path("leg"), "w") as fh:
        json.dump(out, fh)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": slowest,
        "queries_truncated_to_slowest": 20,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf,
    }
    print(json.dumps(summary))
    spark.stop()
    if errors:
        print(f"bench: {len(errors)} queries FAILED: {sorted(errors)}", file=sys.stderr)
        sys.exit(1)


def _sidecar_path(kind: str) -> str:
    """Per-run sidecar path: the full per-query map is diagnostics, and
    a fixed repo-root BENCH_LAST.json meant concurrent bench runs
    clobbered each other's record (round-7 advice). Unique per
    invocation; overridable for tooling that wants a stable path."""
    import tempfile

    override = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR")
    if override:
        if kind == "run":
            return override  # the combined record honors it verbatim
        base, ext = os.path.splitext(override)
        # each leg runs in its own subprocess under orchestrate, which
        # numbers them via SPARK_GRAFT_BENCH_LEG_IDX — a DETERMINISTIC
        # '{base}.leg<i>{ext}' path tooling can locate (round-9 advice:
        # a pid suffix was unpredictable). A bare `python bench.py
        # --leg` run outside orchestrate has no index and falls back to
        # the pid so concurrent manual runs still never clobber.
        idx = os.environ.get("SPARK_GRAFT_BENCH_LEG_IDX")
        suffix = idx if idx is not None else str(os.getpid())
        return f"{base}.{kind}{suffix}{ext}"
    path = os.path.join(
        tempfile.gettempdir(), f"bench_{kind}_{os.getpid()}.json"
    )
    print(f"bench: sidecar -> {path}", file=sys.stderr)
    return path


def _loadavg() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def orchestrate() -> int:
    """Run 1-2 fresh-JVM legs of `main()` and print the combined JSON."""
    here = os.path.abspath(__file__)
    want_legs = int(os.environ.get("SPARK_GRAFT_BENCH_LEGS", "1"))
    leg_budget = float(os.environ.get("SPARK_GRAFT_BENCH_LEG_BUDGET", "420"))
    legs: list[dict] = []
    loads: list[float] = []
    rc = 0
    for i in range(max(want_legs, 1)):
        loads.append(_loadavg())
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, here, "--leg"],
            capture_output=True,
            text=True,
            env={**os.environ, "SPARK_GRAFT_BENCH_LEG_IDX": str(i)},
        )
        leg_sec = time.perf_counter() - t0
        rc = rc or proc.returncode
        # the leg prints the FULL per-query map as its first JSON line
        # (the last line is the truncated summary) — parse stdout
        # directly rather than round-tripping through the shared
        # BENCH_LAST.json sidecar, which a leg dying between print and
        # write would leave stale, and which concurrent runs clobber
        line = next(
            (ln for ln in proc.stdout.splitlines() if ln.startswith("{")),
            None,
        )
        if line is None:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode or 1
        legs.append(json.loads(line))
        if leg_sec > leg_budget:
            break  # protect the caller's timeout; one leg beats a kill
    loads.append(_loadavg())

    best = dict(legs[0]["queries"])
    for leg in legs[1:]:
        for name, sec in leg["queries"].items():
            best[name] = min(best.get(name, float("inf")), sec)
    out = {
        "metric": legs[0]["metric"]
        + f" (min over {len(legs)} fresh-JVM legs)",
        "value": round(sum(best.values()), 4),
        "unit": "sec",
        "queries": dict(sorted(best.items(), key=lambda kv: -kv[1])[:20]),
        "queries_truncated_to_slowest": 20,
        "n_queries": len(best),
        "leg_totals": [leg["value"] for leg in legs],
        "loadavg_1m": loads,
        "sf": legs[0]["sf"],
    }
    for leg in legs:
        if leg.get("errors"):
            # merge — legs can fail on different queries
            out.setdefault("errors", {}).update(leg["errors"])
    with open(_sidecar_path("run"), "w") as fh:
        json.dump({**out, "queries": best}, fh)
    print(json.dumps(out))
    return rc


if __name__ == "__main__":
    if "--leg" in sys.argv:
        sys.exit(main())
    sys.exit(orchestrate())
