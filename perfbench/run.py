#!/usr/bin/env python3
"""One benchmark run: build, generate inputs, run one workload in its own
JVM, check the program's outputs, print one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload chain_lifecycle --seed 1 \
      --seconds 10 --trace 0

Workloads: chain_lifecycle, corpus_4x (see README.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones;
the traced run also writes its spans to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import inputs  # noqa: E402

ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
JVM_TIMEOUT_S = 150
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, args, work, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap, so peak RSS tracks the program and not heap sizing
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + args
    log = work / "jvm.log"
    env = dict(os.environ, TMPDIR=str(tmp),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                cwd=ROOT, env=env)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: workload JVM timed out; see {log}")
    if code != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"perfbench: workload JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    import checks  # uses the repository's tools/oracle_check.py
    t_start = time.time()
    work = ROOT / ".bench_build" / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        gen_s = inputs.generate(a.workload, a.seed, work / "inputs")
        result = work / "result.json"
        run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", str(work / "inputs"),
            "--work", str(work), "--out", str(result)],
            work, t_start + JVM_TIMEOUT_S)
        t_jvm = time.time()
        res = json.loads(result.read_text())
        if res["failure"]:
            raise SystemExit(f"perfbench: workload aborted: {res['failure']}")
        problems = checks.check(a.workload, res, work)
        sys.stderr.write(f"perfbench: jvm done at {t_jvm - t_start:.1f}s, "
                         f"checks done at {time.time() - t_start:.1f}s\n")
        for p in problems:
            sys.stderr.write(f"perfbench check: {p}\n")
        if a.trace:
            save_trace(res, a)
        print(json.dumps(summary(res, gen_s, problems, a.trace)))
    finally:
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", work.parent / f"{a.workload}.log")
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


def summary(res, gen_s, problems, traced):
    m = res["metrics"]
    ops = [o for o in res["ops"] if o["counted"]]
    setup = m["boot_s"] + m["warmup_s"] + statistics.median(gen_s)
    values = {"setup_s": setup, "peak_rss_mb": m["peak_rss_mb"],
              "round_s": m["round_s"], "round_cpu_s": m["round_cpu_s"]}
    if traced:
        values = dict(res["layers"], **{"trace.round_s": m["round_s"]})
        specs = SPEC["per_layer"]
        unknown = set(values) - {s["name"] for s in specs}
        if unknown:
            raise SystemExit(f"perfbench: layer metrics missing from BENCHMARK.json: {unknown}")
    else:
        specs = SPEC["end_to_end"]
    out = {}
    for s in specs:
        out[s["name"]] = {"value": float(values.get(s["name"], 0.0)),
                          "unit": s["unit"]}
    return {"correct": not problems, "attempted": len(ops),
            "failed": sum(1 for o in ops if not o["ok"]), "metrics": out}


def save_trace(res, a):
    d = ROOT / ".bench_build" / "traces"
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(
        {"spans": res["spans"], "layers": res["layers"], "ops": res["ops"]}))


if __name__ == "__main__":
    main()
