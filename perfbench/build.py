#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in the Spark distribution, into
.bench_build/classes. A stamp of the sources skips an unchanged rebuild.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars():
    """jars of the Spark distribution: $SPARK_HOME, else the first one
    whose spark-submit is on the PATH"""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("spark-core_*.jar")):
            return home / "jars"
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        raise SystemExit("perfbench: no program sources at src/main/scala; "
                         "run from the root of a checkout")
    own = ROOT / "perfbench" / "src"
    return sorted(prog.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    stamp = stamp_of(files)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSES
    jars = spark_jars()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
