"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala` at the repo root) and the harness
(`perfbench/src`) are compiled, into `.bench_build/` at the repo root,
against the Spark jar directory the repo's `build.sbt` names as
`unmanagedBase`, with the Scala compiler that ships in it. A stamp over
every source file skips the build when nothing changed.

    python3 perfbench/build.py        # prints the harness classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {m.group(1)}")
    return jars


def sources(top):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", dest] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed for {dest}")


def build():
    """Compile if stale; return the runtime classpath (list of entries)."""
    program = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = sources(os.path.join(HERE, "src"))
    if not program:
        raise SystemExit("no program sources under src/main/scala")
    jars = spark_jars()
    if not any(os.path.basename(j) == f"scala-compiler-{SCALA_VERSION}.jar" for j in jars):
        raise SystemExit(f"scala-compiler-{SCALA_VERSION}.jar not among the Spark jars")
    prog_dir = os.path.join(OUT, "program")
    bench_dir = os.path.join(OUT, "harness")
    cp = [prog_dir, bench_dir] + jars
    key = stamp(program + harness)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return cp
    for d in (prog_dir, bench_dir):
        subprocess.run(["rm", "-rf", d], check=True)
    scalac(jars, jars, prog_dir, program)
    scalac(jars, [prog_dir] + jars, bench_dir, harness)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build()))
