"""Build file of the graft benchmark: compiles the engine sources and the
benchmark's own Scala sources with the Scala compiler that ships in
$SPARK_HOME/jars, into .bench_build/ at the root of the checkout.

A stamp over every source file skips the compile when nothing changed.
Run directly to build: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise BuildError("SPARK_HOME is unset or has no jars/ directory")
    if not any(j.startswith("scala-compiler") for j in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    def scala_files(top):
        found = []
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
        return sorted(found)

    engine = scala_files(os.path.join(ROOT, "src", "main", "scala"))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    return engine + scala_files(os.path.join(HERE, "src"))


def classpath():
    """Build if needed; return the classpath the worker runs with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return f"{CLASSES}:{jars}/*"

    tmp = os.path.join(BUILD, "tmp")
    out = os.path.join(BUILD, f"classes.{os.getpid()}")
    for d in (tmp, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-classpath", f"{jars}/*", "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return f"{CLASSES}:{jars}/*"


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
