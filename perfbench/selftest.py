#!/usr/bin/env python3
"""Self-test of the benchmark: a fast sf0.001 smoke over every workload.

    python3 perfbench/selftest.py

Runs each workload once untraced and once traced at sf0.001 with a
one-second repeat budget, then checks that
  * every run passes its correctness gate;
  * every end-to-end metric of BENCHMARK.json is emitted untraced and every
    per-layer metric traced, each with its declared unit;
  * the traced and untraced runs resolved identical query lists;
  * an unknown query name fails the run instead of being skipped.
The runs go through run.py's own run_workload, on copies of the workloads
with the scale factor or query list changed. Exits 0 when all checks pass.
"""
import contextlib
import io
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7
SMOKE_SF = 0.001

sys.path.insert(0, str(HERE))
import run as bench  # noqa: E402


def run(workload, trace, **changes):
    """Runs a changed copy of a workload; returns (result or None, stderr)."""
    name = f"selftest-{workload}"
    bench.WORKLOADS[name] = dict(bench.WORKLOADS[workload], **changes)
    err = io.StringIO()
    with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(err):
        try:
            return bench.run_workload(name, SEED, 1, trace), err.getvalue()
        except bench.BenchError:
            return None, err.getvalue()


def latest_record(workload, trace):
    recs = sorted((bench.WORK / "records").glob(f"selftest-{workload}-s{SEED}-t{trace}-*.json"),
                  key=lambda p: p.stat().st_mtime)
    return json.loads(recs[-1].read_text())


def main():
    bench_spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {0: {m["name"]: m["unit"] for m in bench_spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench_spec["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench_spec["workloads"]):
        lists = {}
        for trace in (0, 1):
            res, err = run(w, trace, sf=SMOKE_SF)
            if res is None:
                problems.append(f"{w} trace={trace}: failed: {err[-1500:]}")
                continue
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: incorrect result")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                missing = sorted(set(wanted[trace].items()) - set(got.items()))
                extra = sorted(set(got.items()) - set(wanted[trace].items()))
                problems.append(f"{w} trace={trace}: metrics differ; missing {missing}, extra {extra}")
            lists[trace] = latest_record(w, trace)["queries"]
        if len(lists) == 2 and lists[0] != lists[1]:
            problems.append(f"{w}: traced and untraced query lists differ")
        print(f"checked {w}", flush=True)
    # `q1` is a prefix of dozens of query names; selected by exact name it
    # must fail the run.
    first = bench_spec["workloads"][0]["name"]
    res, err = run(first, 0, sf=SMOKE_SF, queries=["q01_scan_project_lit", "q1"])
    if res is not None or "unknown query names: q1" not in err:
        problems.append("an unknown query name did not fail the run")
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
