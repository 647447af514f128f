"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory with the Scala
compiler that ships in the Spark distribution's jars directory
($SPARK_HOME/jars, else next to `spark-submit` on the PATH, else the
installed pyspark package's). The build is skipped when a stamp of every
source file's content and this file matches the previous build.

    python3 perfbench/build.py        # from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars_dir():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(
            os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if os.path.isdir(c):
            return c
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def spark_jars():
    jars_dir = spark_jars_dir()
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars in {jars_dir}")
    return jars


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, the program's resources (the
    `payer-mrf` DataSourceRegister), then Spark."""
    return os.pathsep.join([CLASSES, PROGRAM_RESOURCES] + spark_jars())


def build():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    files = sources()
    digest = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars), "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
