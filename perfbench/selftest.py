"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py            # generator determinism only
    python3 perfbench/selftest.py --smoke    # plus a 1-second run of every workload

Checks that the same seed gives byte-identical inputs (and another seed
different ones), then optionally runs each workload briefly, untraced
and traced, and checks that the printed result has the contract's shape
and that every output check passed.
"""

from __future__ import annotations

import filecmp
import itertools
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def check_determinism() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_runs")) as tmp:
        d = {k: os.path.join(tmp, k) for k in ("a", "b", "c")}
        rows = gen.write_catalog(3, d["a"])
        gen.write_catalog(3, d["b"])
        gen.write_catalog(4, d["c"])
        assert _same_tree(d["a"], d["b"]), "catalog differs for the same seed"
        assert not _same_tree(d["a"], d["c"]), "catalog identical for different seeds"
        assert rows["lineitem"] == 600_000 and rows["planted_doc_dups"] > 0, rows
        for k in ("a", "b"):
            gen.write_corpus(3, 1, os.path.join(tmp, "corpus" + k), 300, 100)
            os.makedirs(os.path.join(tmp, "feed" + k))
            gen.write_event_batch(3, 1, os.path.join(tmp, "feed" + k), 500)
        assert _same_tree(os.path.join(tmp, "corpusa"), os.path.join(tmp, "corpusb"))
        assert _same_tree(os.path.join(tmp, "feeda"), os.path.join(tmp, "feedb"))
    stream = lambda seed: list(itertools.islice(gen.query_stream(seed), 2 * gen.ROUND))  # noqa: E731
    assert stream(3) == stream(3) and stream(3) != stream(4)
    first = stream(3)[:gen.ROUND]
    assert sorted(q[1] for q in first if q[0] == "ansi") == sorted(gen.ANSI_CYCLE), first
    assert sum(q[0] == "dialect" for q in first) == len(gen.DIALECT_MIX), first
    assert gen.warmup_queries(3) == gen.warmup_queries(3)
    print("determinism: ok")


def smoke(workload: str, trace: int) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    assert list(res["metrics"]) == want, res["metrics"].keys()
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]
    print(f"smoke {workload} trace={trace}: ok ({res['attempted']} ops)")


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
    check_determinism()
    if "--smoke" in sys.argv[1:]:
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                smoke(workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
