#!/usr/bin/env python3
"""Build the flow benchmark: the graft library sources plus the benchmark's
own Scala sources, compiled in one scalac pass against the Spark jars.

    python3 flowbench/build.py        # from the repository root

The compiler is the scala-compiler jar that ships with Spark
(`$SPARK_HOME/jars`), so the build needs no dependency resolution. The
classes are jarred into `.flowbench_build/` and reused while no input
changes (a content hash of every input is stored next to them).
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".flowbench_build")
JAR = os.path.join(OUT, "flowbench.jar")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise BuildError(f"graft library sources missing under {LIB_SRC}")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(srcs, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jvm_cmd(jars, work, main, args):
    """The benchmark JVM: Spark's JDK 17 opens, a fixed 3 GiB heap (G1
    would otherwise resize it from run to run, and shrink it at every
    full collection the benchmark forces between operations, which
    changes how often the timed work collects), UTC, and every temporary
    file under the run's own directory."""
    opens = [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", JAR + os.pathsep + os.path.join(jars, "*"), main] + args)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def build(log=sys.stderr):
    """Build if stale; return a function (work, main, args) -> JVM command."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(OUT, "stamp")
    launch = lambda work, main, args: jvm_cmd(jars, work, main, args)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return launch
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[flowbench] compiling {len(srcs)} sources", file=log, flush=True)
    steps = [
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        ["jar", "cf", JAR, "-C", classes, "."],
    ]
    for cmd in steps:
        if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
            raise BuildError(f"{cmd[0]} failed")
    with open(stamp_file, "w") as f:
        f.write(want)
    return launch


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[flowbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
