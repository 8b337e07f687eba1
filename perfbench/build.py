"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/scala`) in one scalac pass against the Spark
distribution's jars (which include the Scala compiler), into
`.bench_build/<source hash>/`. A tree whose sources are unchanged is not
rebuilt.

    python3 perfbench/build.py        # prints the run-time classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under SPARK_HOME={home!r}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"engine sources not found at {main}")
    found = []
    for base in (main, os.path.join(HERE, "scala")):
        found += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return found


def build():
    """Compile if needed; return the classpath to run the harness with."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(ROOT, ".bench_build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + os.pathsep.join(jars)
    if os.path.exists(os.path.join(out, "DONE")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    # the compiler ships in the Spark distribution (scala-compiler jar)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    open(os.path.join(out, "DONE"), "w").close()
    return cp


if __name__ == "__main__":
    print(build())
