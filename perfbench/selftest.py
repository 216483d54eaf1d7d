#!/usr/bin/env python3
"""Checker self-test: every correctness check must fail on a planted
fault. Runs each workload once, keeping its work directory, confirms the
checker passes the untouched outputs, then plants one fault at a time in
a copy of the outputs and confirms the checker reports it.

Usage (from the repository root):
  python3 perfbench/selftest.py [--workloads chain_lifecycle,corpus_4x]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402

WORK = ROOT / ".bench_build" / "work"
COPY = ROOT / ".bench_build" / "selftest"


def first_file(d):
    """the first parquet file under d that holds a row"""
    return next(p for p in sorted(Path(d).rglob("*.parquet"))
                if pq.ParquetFile(p).metadata.num_rows > 0)


def drop_row(path):
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def set_cell(path, column, fn):
    t = pq.read_table(path)
    i = t.column_names.index(column)
    values = t.column(column).to_pylist()
    values[0] = fn(values[0])
    pq.write_table(t.set_column(i, column, pa.array(values, t.schema.field(i).type)), path)


def lake_file(w, dataset, first):
    return next(Path(w / "round_0" / "lake").rglob(f"ethereum__{dataset}__{first:08d}_to_*.parquet"))


def other_vec_id(w, path):
    """a corpus vector id that is not this result's neighbour"""
    t = pq.read_table(path)
    return (t.column("c_id")[0].as_py() + 7) % 2000


FAULTS = {
    "chain_lifecycle": {
        "a lake chunk file removed": lambda w: lake_file(w, "blocks", 2000).unlink(),
        "a lake file missing a row": lambda w: drop_row(lake_file(w, "transactions", 1000)),
        "the re-freeze wrote a file": lambda w: (w / "round_0" / "refreeze_written.txt").write_text("1"),
        "a follow-mode file missing a row": lambda w: drop_row(lake_file(w, "four_byte_counts", 2000)),
        "a range read missing a row": lambda w: drop_row(first_file(w / "check" / "reads" / "logs")),
    },
    "corpus_4x": {
        "an entry result missing a row": lambda w: drop_row(
            first_file(w / "round_0" / "out" / "heavy" / "q18_large_orders")),
        "the audit missing a row": lambda w: drop_row(
            first_file(w / "round_0" / "out" / "prep" / "audit")),
        "a source_stats count off by one": lambda w: set_cell(
            first_file(w / "round_0" / "out" / "prep" / "source_stats"), "n_keep", lambda v: v + 1),
        "a funnel count off by one": lambda w: set_cell(
            first_file(w / "round_0" / "out" / "prep" / "funnel"), "n_surviving", lambda v: v + 1),
        "an index code removed": lambda w: drop_row(first_file(
            w / checks.index_paths(w)["codes"])),
        "a search neighbour replaced": lambda w: (lambda p: set_cell(
            p, "c_id", lambda v: other_vec_id(w, p)))(
            first_file(w / "round_0" / "out" / "search")),
    },
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(FAULTS))
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(a.seed),
             "--seconds", "1", "--trace", "0"], cwd=ROOT, text=True,
            stdout=subprocess.PIPE, env=dict(os.environ, PERFBENCH_KEEP="1"))
        if res.returncode != 0:
            raise SystemExit(f"selftest: {w} run failed")
        result = json.loads((WORK / w / "result.json").read_text())
        clean = checks.check(w, result, WORK / w)
        print(f"{w}: untouched outputs -> {'pass' if not clean else clean}")
        ok &= not clean
        for fault, plant in FAULTS[w].items():
            copy = COPY / w
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(WORK / w, copy)
            plant(copy)
            found = checks.check(w, result, copy)
            print(f"{w}: {fault} -> " + (f"caught: {found[0]}" if found else "NOT CAUGHT"))
            ok &= bool(found)
        shutil.rmtree(COPY, ignore_errors=True)
        shutil.rmtree(WORK / w, ignore_errors=True)
    print("self-test passed" if ok else "self-test FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
