"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, into a directory keyed by a hash of every source.

    python3 perfbench/build.py            # prints the classes directory

Spark's jars are found from `SPARK_JARS`, else from the `unmanagedBase`
line of the repository's build.sbt, else from `$SPARK_HOME/jars`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

SCALAC_OPTS = ["-nowarn", "-release", "17"]


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_JARS)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", *SCALAC_OPTS,
         "-classpath", cp, "-d", tmp, "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in os.listdir(OUT):
        if old.startswith("classes-") and old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
