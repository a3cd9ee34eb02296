"""Build file of the benchmark package: compiles the engine's Scala
sources (``src/main/scala`` of the checkout) together with the benchmark's
client (``perfbench/src``) with the Scala compiler that ships in Spark's
jars. The classes go to ``perfbench/.work/build``; a build is reused while
the hash of every source file is unchanged.

Run it alone with ``python3 perfbench/build.py``; ``run.py`` calls it.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLIENT_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".work", "build")


def spark_jars():
    """The jars of the Spark installation that SPARK_HOME names."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        sys.exit("Spark's jars not found: set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars)
                  if j.endswith(".jar"))


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"engine sources not found at {ENGINE_SRC}: run the "
                 "benchmark from a checkout of the repository")
    found = []
    for top in (ENGINE_SRC, CLIENT_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    """Runtime classpath of the built client and engine."""
    return os.pathsep.join([os.path.join(OUT, "classes")] + spark_jars())


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    jars = os.pathsep.join(spark_jars())
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                    "scala.tools.nsc.Main",
                    "-classpath", jars, "-d", classes, "-nowarn"] + srcs,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
