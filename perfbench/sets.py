#!/usr/bin/env python3
"""Run one set of untraced runs per workload and report each end-to-end
metric's median and spread (interquartile distance over the median, as
`statistics.quantiles(values, n=4)` gives the quartiles).

    python3 perfbench/sets.py --seeds 1-10 --out perfbench/baseline/set1.jsonl
    python3 perfbench/sets.py --compare perfbench/baseline/set1.jsonl perfbench/baseline/set2.jsonl

Each run's result line is appended to --out with its workload and seed.
--compare prints, per workload and metric, both sets' medians and
spreads against the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
CONTRACT = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def load(path):
    by = {}
    for line in Path(path).read_text().splitlines():
        r = json.loads(line)
        for k, v in r["metrics"].items():
            by.setdefault((r["workload"], k), []).append(v["value"])
    return by


def compare(a, b):
    bounds = {m["name"]: m for m in CONTRACT["end_to_end"]}
    sa, sb = load(a), load(b)
    print("| workload | metric | median 1 | median 2 | change | spread 1 | spread 2 | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for key in sorted(sa):
        w, k = key
        m1, m2 = statistics.median(sa[key]), statistics.median(sb[key])
        worse = (m2 - m1) / m1 * (1 if bounds[k]["better"] == "lower" else -1)
        print(f"| {w} | {k} | {m1:.4g} | {m2:.4g} | {worse:+.3f} | "
              f"{spread(sa[key]):.3f} | {spread(sb[key]):.3f} | "
              f"{bounds[k]['bound']} |")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return 0
    for w in (w["name"] for w in CONTRACT["workloads"]):
        for s in args.seeds:
            r = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(CONTRACT["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s} exited {r.returncode}:\n{r.stderr[-2000:]}")
                return 1
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, **res}) + "\n")
            print(w, s, res["correct"], {k: round(v["value"], 4)
                                         for k, v in res["metrics"].items()},
                  flush=True)
    by = load(args.out)
    for (w, k), v in sorted(by.items()):
        print(f"{w:20s} {k:26s} median {statistics.median(v):10.4f} "
              f"spread {spread(v):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
