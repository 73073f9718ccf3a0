"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark's Scala sources (perfbench/src) with the Scala compiler
that ships in Spark's jars directory.

    python3 perfbench/build.py        # prints the classes directory

The output lands in $CARGO_TARGET_DIR/perfbench (default .bench_build/
perfbench under the checkout) and is reused while no source changes.
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
    """The jars directory of SPARK_HOME, or of a Spark installation whose
    spark-submit is on PATH; it must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark installation with jars/scala-compiler-*.jar; set SPARK_HOME")


SPARK_JARS = spark_jars()


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources():
    """(scala sources, resource files) of the program and the benchmark."""
    scala, resources = [], []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            scala += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    res = os.path.join(ROOT, "src/main/resources")
    for d, _, files in os.walk(res):
        resources += [os.path.join(d, f) for f in files]
    return sorted(scala), sorted(resources)


def build():
    """Compile if needed; returns the classes directory. Exits non-zero
    when the program's sources are not there."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        sys.exit("perfbench: no program sources at src/main/scala; run from a full checkout")
    scala, resources = sources()
    h = hashlib.sha256()
    for f in scala + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + scala
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    res = os.path.join(ROOT, "src/main/resources")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
