"""Build file of the benchmark package: compiles the program's main
sources together with the benchmark harness (perfbench/harness) into
``.bench_build/classes`` with the Scala compiler that ships with Spark.

The build is skipped when a stamp of every compiled source's content
matches the last successful build. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one on PATH (its bin/ directory), that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit(f"no Spark distribution with the Scala {SCALA_VERSION} compiler "
                     "in $SPARK_HOME or on PATH")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    if not main:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    return main + harness


def classes_dir(root):
    return os.path.join(root, BUILD_DIR, "classes")


def build(root, log=sys.stderr):
    """Compiles if the sources changed; returns the classes directory."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = classes_dir(root)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler_cp = os.pathsep.join(os.path.join(jars, f"scala-{j}-{SCALA_VERSION}.jar")
                                  for j in ("compiler", "library", "reflect"))
    print(f"building {len(srcs)} sources into {out}", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit("build failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    build(os.getcwd())
