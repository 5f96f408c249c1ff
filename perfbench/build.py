"""Builds the program and the benchmark's JVM side from source.

Compiles `src/main/scala` and `perfbench/src` with the Scala compiler that
ships among the Spark jars named by `build.sbt` (`unmanagedBase`), or under
`$SPARK_HOME/jars`. Output goes to `.bench_build/classes`; a stamp of the
sources skips the build when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

from gen import PIPELINE_ROWS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ORACLES = os.path.join(CLASSES, "oracles.json")

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark jars the repo builds against."""
    sbt = os.path.join(ROOT, "build.sbt")
    candidates = []
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (build.sbt unmanagedBase, $SPARK_HOME)")


def classpath(*extra):
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    return os.pathsep.join(list(extra) + jars)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise BuildError(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    return main, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def scalac(files, out, cp):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", cp] + files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
                        "@" + argfile], capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])


def runtime_classpath():
    return classpath(os.path.join(CLASSES, "bench"), os.path.join(CLASSES, "main"),
                     os.path.join(ROOT, "src/main/resources"))


def build(log=sys.stderr):
    main, bench = sources()
    want = stamp(main + bench)
    stamp_file = os.path.join(CLASSES, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.exists(ORACLES):
        return
    print("perfbench: building program and harness ...", file=log, flush=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    scalac(main, os.path.join(CLASSES, "main"), classpath())
    scalac(bench, os.path.join(CLASSES, "bench"), classpath(os.path.join(CLASSES, "main")))
    # the pipeline rows' own oracle SQL, for check.py
    r = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData"] + ADD_OPENS + ["-cp", runtime_classpath(), "perfbench.Main",
                        "--dump-oracles", ORACLES] + PIPELINE_ROWS, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("oracle dump failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
