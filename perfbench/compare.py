"""Compare two sets of stamped benchmark results.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds result files written by perfbench/run.py (under
.bench_work/results/). Refuses when any two results disagree on a machine
fact (nproc, MemTotal, JDK, Spark version): numbers from different
machines do not compare. Prints, per workload and end-to-end metric, each
side's median and quartile spread, and flags a head median worse than the
base median by more than the metric's bound in BENCHMARK.json.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    out = []
    for f in sorted(Path(d).glob("*.json")):
        if f.name.endswith(".spans.json"):
            continue
        r = json.loads(f.read_text())
        if r.get("trace") == 0:
            out.append(r)
    return out


def summary(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, head = load(sys.argv[1]), load(sys.argv[2])
    if not base or not head:
        sys.exit("no untraced results on one side")
    facts = {json.dumps(r["machine"], sort_keys=True) for r in base + head}
    if len(facts) != 1:
        sys.exit("refusing to compare: machine facts differ:\n  " + "\n  ".join(sorted(facts)))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    print(f"machine: {facts.pop()}")
    for w in sorted({r["workload"] for r in base + head}):
        for m in spec["end_to_end"]:
            b = [r["metrics"][m["name"]] for r in base if r["workload"] == w]
            h = [r["metrics"][m["name"]] for r in head if r["workload"] == w]
            if not b or not h:
                continue
            (bm, bs), (hm, hs) = summary(b), summary(h)
            change = (hm - bm) / bm if bm else float("nan")
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            print(f"{w:12s} {m['name']:20s} base {bm:.4g} ({bs:.3f}, n={len(b)})  "
                  f"head {hm:.4g} ({hs:.3f}, n={len(h)})  {change:+.3f}{'  WORSE' if worse else ''}")


if __name__ == "__main__":
    main()
