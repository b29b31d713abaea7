#!/usr/bin/env python3
"""Compare two sets of benchmark records (an A/B of two commits).

    python3 perfbench/compare.py <base records dir> <head records dir>

Each directory holds the JSON records run.py writes to
.perfbench_work/records/. Records are grouped by (workload, trace). A
comparison is refused (exit 2) when the two sides were taken at a different
scale factor or core count. For every metric the script prints each side's
median and quartiles and the head/base ratio, and flags a metric whose
head median is worse than the base median by more than its bound in
BENCHMARK.json (exit 1).
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(d):
    groups = {}
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    return groups


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def main(base_dir, head_dir):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, head = load(base_dir), load(head_dir)
    status = 0
    for key in sorted(set(base) & set(head)):
        keyed = {(r["host"]["sf"], r["host"]["cores"]) for r in base[key] + head[key]}
        if len(keyed) != 1:
            print(f"REFUSED {key[0]} trace={key[1]}: records span (sf, cores) pairs {sorted(keyed)}")
            return 2
        print(f"== {key[0]} trace={key[1]} sf={keyed.pop()} "
              f"base {len(base[key])} runs, head {len(head[key])} runs")
        for name in base[key][0]["metrics"]:
            b = [r["metrics"][name]["value"] for r in base[key]]
            h = [r["metrics"][name]["value"] for r in head[key] if name in r["metrics"]]
            if not h:
                continue
            bq, hq = quartiles(b), quartiles(h)
            ratio = hq[1] / bq[1] if bq[1] else float("nan")
            m = spec.get(name, {})
            flag = ""
            if "bound" in m:
                worse = hq[1] - bq[1] if m["better"] == "lower" else bq[1] - hq[1]
                if bq[1] and worse / abs(bq[1]) > m["bound"]:
                    flag, status = f"  WORSE than bound {m['bound']}", 1
            print(f"  {name:32s} base {bq[1]:12.4f} [{bq[0]:.4f}, {bq[2]:.4f}]  "
                  f"head {hq[1]:12.4f} [{hq[0]:.4f}, {hq[2]:.4f}]  x{ratio:.3f}{flag}")
    return status


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
