"""Build file of the benchmark: compiles the repository's main sources plus
the benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution, so no build tool or network is needed.

    python3 perfbench/build.py        # from the repository root

Output goes to .bench_build/classes; a stamp of the source contents skips
the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars under {jars}")
    return jars


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(root, d)):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def ensure(root, build_dir):
    """Returns the classes directory, compiling first if the sources changed."""
    srcs = sources(root)
    if not any(s.endswith(os.path.join("graft", "SparkEntry.scala")) for s in srcs):
        raise SystemExit("perfbench: repository sources not found under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
