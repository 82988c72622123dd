#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's own sources (src/main/scala, from the checkout this
directory sits in) together with the benchmark's sources into
$CARGO_TARGET_DIR/graftbench/classes (default .bench_build/...), with the
Scala compiler that ships among the Spark jars the project builds against
(build.sbt's `unmanagedBase`, else $SPARK_HOME/jars). A stamp over every source
file skips the compile when nothing changed.

    python3 graftbench/build.py          # build
    python3 graftbench/build.py --test   # build, then run the reference tests
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCALA = "2.13.17"


def spark_jars():
    """The jar directory the project's own build compiles against
    (`unmanagedBase` in build.sbt), or $SPARK_HOME/jars."""
    jars = None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        sys.exit(f"graftbench: no Spark jars with scala-compiler {SCALA} (looked in {jars})")
    return jars


def out_dir():
    # an absolute CARGO_TARGET_DIR replaces ROOT in the join
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, dest, classpath):
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"graftbench: compile failed ({r.returncode})")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build():
    """Compiles when stale; returns the run classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(main_src):
        sys.exit(f"graftbench: graft sources not found at {main_src}")
    jars = spark_jars()
    out = out_dir()
    classes = os.path.join(out, "classes")
    files = sources(os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"))
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    have = open(stamp_file).read() if os.path.isfile(stamp_file) else ""
    if have != want or not os.path.isdir(classes):
        os.makedirs(out, exist_ok=True)
        scalac(files, classes, os.path.join(jars, "*"))
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([classes, os.path.join(jars, "*")])


def test():
    """Compiles and runs the reference tests; exits non-zero on failure."""
    cp = build()
    dest = os.path.join(out_dir(), "test-classes")
    scalac(sources(os.path.join(BENCH, "test")), dest, cp)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([dest, cp]),
                        "graftbench.ReferenceTest"])
    sys.exit(r.returncode)


if __name__ == "__main__":
    if "--test" in sys.argv[1:]:
        test()
    else:
        print(build())
