#!/usr/bin/env python3
"""Steadiness check: run sets of benchmark runs of one commit and report,
per workload and end-to-end metric, the median, the quartiles, the spread
(quartile distance over median) and whether the sets agree within the
bounds in BENCHMARK.json. Every run uses its own seed.

Usage (from the repository root):
  python3 perfbench/steady.py --runs 10 --sets 2 [--workloads a,b] [--seed0 100]

A set agrees when, for every metric, its spread stays within the bound
(setup_s excepted), its median is not worse than the first set's by more
than the bound, and its share of failed operations equals the first's.
The report is printed and written to .bench_build/steady.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def one_run(workload, seed, trace=0):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} exited {res.returncode}")
    return json.loads(lines[-1])


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def worse_by(metric, first, later):
    """relative change of `later` against `first` in the worse direction"""
    change = (later - first) / first
    return change if metric["better"] == "lower" else -change


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    report = {}
    ok = True
    seed = a.seed0
    for w in a.workloads.split(","):
        sets = []
        for _ in range(a.sets):
            runs = []
            for _ in range(a.runs):
                r = one_run(w, seed)
                seed += 1
                ok &= r["correct"]
                runs.append(r)
                print(f"{w} seed {seed - 1}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                    flush=True)
            sets.append(runs)
        rows = {}
        for m in SPEC["end_to_end"]:
            per_set = [stats([r["metrics"][m["name"]]["value"] for r in runs])
                       for runs in sets]
            agree = all(s["spread"] <= m["bound"] or m["name"] == "setup_s"
                        for s in per_set)
            agree &= all(worse_by(m, per_set[0]["median"], s["median"]) <= m["bound"]
                         for s in per_set[1:])
            rows[m["name"]] = {"bound": m["bound"], "sets": per_set, "agree": agree}
            ok &= agree
            print(f"  {w:16s} {m['name']:12s} bound {m['bound']:.2f}  " + "  ".join(
                f"median {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "
                f"spread {s['spread']:.3f}" for s in per_set)
                + ("  agree" if agree else "  DISAGREE"), flush=True)
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
                  for runs in sets]
        share_ok = all(s == shares[0] for s in shares)
        ok &= share_ok
        print(f"  {w:16s} failed share per set {shares}"
              + ("" if share_ok else "  DIFFERENT"), flush=True)
        report[w] = {"metrics": rows, "failed_share": shares}
    out = ROOT / ".bench_build" / "steady.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
