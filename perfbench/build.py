#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (`src/main/scala` at the repository root)
into `perfbench/.build/graft`, then the harness sources in `perfbench/src`
against them into `perfbench/.build/harness`, using the Scala compiler
that ships in the Spark distribution's jars directory: `$SPARK_HOME/jars`,
else the `unmanagedBase` the repository's `build.sbt` compiles against.
No dependency is resolved or downloaded.

A stage is skipped when a stamp of its source files' paths and bytes
matches its last successful build, so only the first run in a checkout
pays for it.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
SCALA_VERSION = "2.13.17"
# (name, source directory): each stage compiles against the ones before it
STAGES = [("graft", os.path.join(ROOT, "src", "main", "scala")),
          ("harness", os.path.join(HERE, "src"))]


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        found = None
    if not found:
        sys.exit("perfbench: set SPARK_HOME to a Spark distribution")
    return found.group(1)


def classes(stage):
    return os.path.join(OUT, stage)


def sources(base=None):
    found = []
    for b in ([base] if base else [d for _, d in STAGES]):
        for d, _, files in os.walk(b):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp_of(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_stage(name, src, compiler, cp):
    """Compile `src` into .build/<name> unless its stamp is current. The
    stamp covers this stage's sources and every earlier stage's stamp."""
    files = sources(src)
    stamp = stamp_of(files) + "".join(
        open(os.path.join(OUT, n + ".stamp")).read() for n, _ in STAGES[:[n for n, _ in STAGES].index(name)])
    stamp_file = os.path.join(OUT, name + ".stamp")
    out = classes(name)
    if os.path.isdir(out) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d %s sources" % (len(files), name), file=sys.stderr, flush=True)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit("perfbench: compile of %s failed (exit %d)" % (name, rc))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    """Compile what is stale. Returns the run classpath; exits non-zero on failure."""
    for _, src in STAGES:
        if not os.path.isdir(src):
            sys.exit("perfbench: no sources at " + src)
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        sys.exit("perfbench: Scala compiler jars not found: " + ", ".join(missing))
    os.makedirs(OUT, exist_ok=True)
    cp = [os.path.join(jars, "*")]
    for name, src in STAGES:
        compile_stage(name, src, compiler, os.pathsep.join(cp))
        cp.insert(0, classes(name))
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(build())
