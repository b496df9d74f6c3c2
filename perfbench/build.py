"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`, resources from `src/main/resources`) together with the
harness (`perfbench/scala`) into one class directory, with the Scala
compiler that ships in the Spark distribution's jars. No sbt, no network.

    python3 perfbench/build.py [<checkout root>]

prints the class directory. A build is skipped when a stamp over every
source file's path and bytes matches the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The jar directory of the Spark installation named by `SPARK_HOME`,
    else of the first `spark-submit` on `PATH` whose jars include the Scala
    compiler (a pip-installed pyspark ships without it)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jars with a Scala compiler; "
                     "set SPARK_HOME")


SPARK_JARS = spark_jars()
BUILD_DIR = os.path.join(".bench_build", "perfbench")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "scala")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root="."):
    srcs = sources(root)
    res = os.path.join(root, "src", "main", "resources")
    stamp_src = hashlib.sha256()
    for p in srcs + sorted(
            os.path.join(b, f) for b, _, fs in os.walk(res) for f in fs):
        stamp_src.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            stamp_src.update(f.read())
    digest = stamp_src.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp] + srcs,
        check=True, stdout=sys.stderr)
    if os.path.isdir(res):
        shutil.copytree(res, out, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "."))
