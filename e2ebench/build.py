"""Build the benchmark: compile the repository's `src/main/scala` and the
benchmark's own `e2ebench/src/main/scala` with the Scala compiler that ships
among the Spark jars, into `.bench_build/e2ebench/classes` of the checkout.
The jar directory is `$SPARK_HOME/jars`, else the one `build.sbt` names.

    python3 e2ebench/build.py          # prints the classes directory

A stamp over every source file skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names (unmanagedBase)."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("e2ebench: no Spark jar directory with scala-compiler (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("e2ebench: no src/main/scala in %s" % ROOT)
    own = os.path.join(HERE, "src", "main", "scala")
    files = []
    for d in (main, own):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("e2ebench: compile failed (exit %d)" % r.returncode)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
