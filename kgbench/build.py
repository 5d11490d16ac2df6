"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own Scala sources into one class directory.

The compiler is the scala-compiler jar that ships with Spark (same Scala
version as build.sbt), run directly on the JVM, so a build needs neither sbt
nor a dependency resolver. The output is keyed by a hash of every source,
so an unchanged tree is not rebuilt.

Usage: python3 kgbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "kgbench")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    found = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root="."):
    """Compile if needed; returns the class directory."""
    srcs = sources(root)
    if not any(s.endswith(os.path.join("pipeline", "Pipeline.scala")) for s in srcs):
        raise SystemExit("kgbench: program sources (src/main/scala) not found")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, HERE).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-2.13.17.jar")
                               for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
