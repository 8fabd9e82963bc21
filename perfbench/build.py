#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources (src/main/scala)
together with the harness (perfbench/src/main/scala) with the Scala compiler
that ships with Spark, into .bench_build/classes. Rebuilds only when a source
changed. Prints the runtime classpath on success."""
import hashlib
import os
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` that the
    program's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    jars = pathlib.Path(home) / "jars" if home else None
    sbt = ROOT / "build.sbt"
    if (jars is None or not jars.is_dir()) and sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        jars = pathlib.Path(m.group(1)) if m else None
    if jars is None or not (jars / f"scala-compiler-{SCALA}.jar").is_file():
        raise SystemExit("perfbench build: no Spark jars with the Scala compiler found (set SPARK_HOME)")
    return jars


SCALA = "2.13.17"
SPARK_JARS = spark_jars()
OUT = ROOT / ".bench_build" / "classes"
STAMP = ROOT / ".bench_build" / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src" / "main" / "scala"]


def sources():
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench build: missing source directories: {', '.join(missing)}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench build: no Scala sources found")
    return files


def classpath():
    return f"{OUT}:{SPARK_JARS}/*"


def build():
    files = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == digest and OUT.is_dir():
        return classpath()
    if OUT.exists():
        subprocess.run(["rm", "-rf", str(OUT)], check=True)
    OUT.mkdir(parents=True)
    compiler = ":".join(str(SPARK_JARS / f"scala-{j}-{SCALA}.jar") for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(OUT), "-classpath", f"{SPARK_JARS}/*"] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac exited with {r.returncode}")
    STAMP.write_text(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
