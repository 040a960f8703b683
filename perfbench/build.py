#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala` at the checkout root) together
with the benchmark's own sources (`perfbench/src/main/scala`) with the Scala
compiler that ships in Spark's jar directory, into `.bench_build/classes`.
Nothing is resolved from the network: the classpath is Spark's jar directory,
`$SPARK_HOME/jars` or else the `unmanagedBase` the library's `build.sbt`
compiles against.

A stamp over the source contents makes repeated builds in one checkout free.

Usage, from the checkout root:
    python3 perfbench/build.py

`build(test=True)` also compiles the benchmark's tests (`perfbench/src/test`);
`perfbench/selftest.py` runs them.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
LIB_SRC = os.path.join("src", "main", "scala")
LIB_RESOURCES = os.path.join("src", "main", "resources")
MAIN_SRC = os.path.join(BENCH_DIR, "src", "main", "scala")
TEST_SRC = os.path.join(BENCH_DIR, "src", "test", "scala")

# Spark on JDK 17 needs these when a session starts outside spark-submit;
# the same list the library's build passes to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if os.path.isdir(jars):
            return os.path.join(jars, "*")
    raise BuildError("Spark's jar directory not found: set SPARK_HOME")


def scala_sources(root):
    out = []
    for base, _, files in os.walk(root):
        out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(sources, out_dir, classpath):
    """scalac into a fresh `out_dir`; returns only once the compiler exited."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise BuildError("scalac failed")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def build(test=False):
    """Compile what is stale; return the runtime classpath (list of entries)."""
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(MAIN_SRC):
        raise BuildError(f"run from the checkout root: {LIB_SRC} and {MAIN_SRC} are required")
    os.makedirs(BUILD_DIR, exist_ok=True)
    jars = spark_jars()
    classes = os.path.join(BUILD_DIR, "classes")
    main_sources = scala_sources(LIB_SRC) + scala_sources(MAIN_SRC)
    if not main_sources:
        raise BuildError("no Scala sources found")
    # (sources to compile, output dir, compile classpath, sources the output depends on)
    steps = [(main_sources, classes, jars, main_sources)]
    cp = [classes, LIB_RESOURCES, jars]
    if test:
        test_classes = os.path.join(BUILD_DIR, "test-classes")
        test_sources = scala_sources(TEST_SRC)
        steps.append((test_sources, test_classes, os.pathsep.join([classes, jars]),
                      main_sources + test_sources))
        cp = [test_classes] + cp
    for sources, out_dir, classpath, inputs in steps:
        stamp_file = out_dir + ".stamp"
        stamp = _stamp(inputs)
        if os.path.isdir(out_dir) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    continue
        _compile(sources, out_dir, classpath)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return cp


def java_cmd(classpath, main, args, heap="2g"):
    """The JVM command line that runs `main` on the built classpath."""
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # No JVM perf-data file outside the checkout; scratch files go to the
    # build directory. The JIT is held to C1 and compiled code is never
    # flushed, so that a run's warm iterations measure settled code. With C2
    # (4-core VM, JDK 17) the compiler threads still took 6-14 CPU-seconds
    # in the third warm iteration of `interactive`, and three runs of one
    # seed read 1363-2244 rows/s. With flushing, the full GCs between
    # iterations emptied a third of the code cache and set off a burst of
    # recompiles.
    return (["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing",
             f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH_DIR, 'log4j2.properties'))}"]
            + opens + ["-cp", os.pathsep.join(classpath), main] + list(args))


def main():
    try:
        build()
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
