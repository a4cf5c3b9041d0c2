#!/usr/bin/env python3
"""Interleaved A/A and A/B runner for the graft benchmark.

    python3 perfbench/ab.py --a <checkout A> [--b <checkout B>]
        [--workloads pipeline_mix,live_tail]
        [--pairs 10] [--seconds 10] [--first-seed 1000] [--json out.json]

Each checkout is a source tree holding perfbench/run.py (for example a
`git archive` of the parent commit and one of the change). Both sides run
the same workload with the same seed, one pair at a time, and the side
that runs first alternates from pair to pair. Pass the same checkout as A
and B for an A/A run; leave out --b to only measure A's spread.

For every workload and end-to-end metric it prints each side's median and
quartiles, the spread (quartile distance over the median), how many pairs
B won, and a verdict:
  gain        B won at least 9 of 10 pairs, the medians differ by more
              than A's quartile distance, and B had no more failed runs
              than A;
  regression  B's median is worse than A's by more than the metric's bound
              in BENCHMARK.json;
  unresolved  A's spread is wider than the bound and neither of the above;
  same        otherwise.
A run that fails or answers wrongly counts against its side.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graftbench import stats  # noqa: E402


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    res["exit"] = p.returncode
    return res


def summarize(values):
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return {"q1": v, "median": v, "q3": v, "spread": 0.0}
    q1, q2, q3 = stats.quartiles(values)
    return {"q1": q1, "median": q2, "q3": q3, "spread": (q3 - q1) / q2}


def verdict(a, b, wins, pairs, bound, lower_is_better, failed):
    worse = (b["median"] - a["median"]) / a["median"]
    if not lower_is_better:
        worse = -worse
    if (wins >= 0.9 * pairs and abs(b["median"] - a["median"]) > a["q3"] - a["q1"]
            and failed["B"] <= failed["A"]):
        return "gain"
    if worse > bound:
        return "regression"
    if a["spread"] > bound:
        return "unresolved"
    return "same"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True)
    ap.add_argument("--b")
    ap.add_argument("--workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    sides = {"A": args.a} if not args.b else {"A": args.a, "B": args.b}
    report = {}
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    for w in workloads:
        runs = {s: [] for s in sides}
        for i in range(args.pairs):
            order = list(sides) if i % 2 == 0 else list(sides)[::-1]
            for s in order:
                r = run(sides[s], w, args.first_seed + i, seconds)
                runs[s].append(r)
                m = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                print(f"{w} pair {i} {s}: correct={r['correct']} exit={r['exit']} {m}",
                      flush=True)
        report[w] = {}
        for name, meta in e2e.items():
            vals = {s: [r["metrics"][name]["value"] for r in runs[s]
                        if name in r["metrics"] and r["correct"]] for s in sides}
            row = {s: summarize(v) for s, v in vals.items()}
            row["failed_runs"] = {s: sum(not r["correct"] for r in runs[s]) for s in sides}
            line = (f"{w:15s} {name:15s} A med {row['A']['median']:.4f} "
                    f"[{row['A']['q1']:.4f}, {row['A']['q3']:.4f}] "
                    f"spread {row['A']['spread']:.3f} (bound {meta['bound']})")
            if "B" in sides:
                lower = meta["better"] == "lower"
                both = [(ra["metrics"][name]["value"], rb["metrics"][name]["value"])
                        for ra, rb in zip(runs["A"], runs["B"])
                        if ra["correct"] and rb["correct"]]
                wins = sum((b < a) if lower else (b > a) for a, b in both)
                row["b_wins"] = wins
                row["verdict"] = verdict(row["A"], row["B"], wins, args.pairs,
                                         meta["bound"], lower, row["failed_runs"])
                line += (f" | B med {row['B']['median']:.4f} "
                         f"[{row['B']['q1']:.4f}, {row['B']['q3']:.4f}] "
                         f"wins {wins}/{args.pairs} -> {row['verdict']}")
            print(line, flush=True)
            report[w][name] = row
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
