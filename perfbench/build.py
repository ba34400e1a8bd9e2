"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) into
`.bench_build/graftbench/classes` with the Scala compiler that ships in
Spark's jars. The build is skipped when a stamp of the sources matches,
so only the first run in a checkout pays for it.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import functools
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")


@functools.lru_cache(maxsize=None)
def spark_jars():
    """The jar directory `build.sbt` compiles against (its `unmanagedBase`),
    else `$SPARK_HOME/jars`. It holds Spark and the Scala compiler."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def spark_classpath():
    return os.path.join(spark_jars(), "*")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "**", "*.scala"),
                               recursive=True))
    return prog, harness


def ensure_built(log=sys.stderr):
    prog, harness = sources()
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not harness:
        raise SystemExit("perfbench: no harness sources under perfbench/scala")
    h = hashlib.sha256(spark_jars().encode())
    for f in prog + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(prog + harness) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", spark_classpath(), "@" + argfile]
    print(f"perfbench: compiling {len(prog)} program + {len(harness)} harness files", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout, file=log)
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return CLASSES


if __name__ == "__main__":
    print(ensure_built())
