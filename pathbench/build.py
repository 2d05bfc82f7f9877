#!/usr/bin/env python3
"""Build the paper-path benchmark: compile the program's sources
(src/main/scala) together with the benchmark's own (pathbench/src) using
the Scala compiler that ships in Spark's jars directory.

Usage: python3 pathbench/build.py   (from the repository root)

Output goes to .bench_build/pathbench/<source digest>/classes, so an
unchanged tree is not rebuilt. Prints the classes directory.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "pathbench"


def spark_jars() -> Path:
    """Spark's jars: $SPARK_HOME/jars, else the directory the program's
    build.sbt declares as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    sys.exit("build: cannot find Spark's jars (set SPARK_HOME)")


def sources() -> list:
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        sys.exit("build: no program sources at src/main/scala")
    files = sorted(prog.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        sys.exit("build: no sources")
    return files


def build() -> Path:
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = OUT / h.hexdigest()[:16] / "classes"
    done = classes.parent / "done"
    if done.exists():
        return classes
    for old in OUT.glob("*"):  # builds of other trees
        if old.name != "runs":
            shutil.rmtree(old, ignore_errors=True)
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        sys.exit(f"build: no scala-compiler jar in {jars}")
    version = compiler[-1].name[len("scala-compiler-"):-len(".jar")]
    scala_cp = [compiler[-1]] + [jars / f"scala-{n}-{version}.jar"
                                 for n in ("library", "reflect")]
    classes.mkdir(parents=True, exist_ok=True)
    argfile = classes.parent / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(str(p) for p in scala_cp),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar"))),
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed ({r.returncode})")
    done.write_text("ok\n")
    return classes


if __name__ == "__main__":
    print(build())
