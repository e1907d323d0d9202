"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark harness
(`perfbench/harness`) with the Scala compiler that ships in Spark's jar
directory, into the jar `.bench_build/perfbench/perfbench.jar`. No sbt: its
start-up would otherwise land in the benchmark's set-up time, and
build.sbt stays untouched. The build is skipped when no source changed since the last one.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = JAR + ".sha256"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("[perfbench] set SPARK_HOME: build.sbt names no unmanagedBase")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"[perfbench] no scala-compiler jar under {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"[perfbench] no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if needed; return (JVM classpath, digest of the sources)."""
    jars = spark_jars()
    srcs = sources()
    key = digest(srcs)
    cp = f"{JAR}{os.pathsep}{jars}/*"
    if os.path.exists(STAMP) and open(STAMP).read() == key:
        return cp, key
    os.makedirs(OUT, exist_ok=True)
    tmp = JAR + ".tmp.jar"
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", f"{jars}/*"] + srcs
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850).returncode:
        raise SystemExit("[perfbench] compile failed")
    os.replace(tmp, JAR)
    with open(STAMP, "w") as f:
        f.write(key)
    return cp, key


if __name__ == "__main__":
    build()
