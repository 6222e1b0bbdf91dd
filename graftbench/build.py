"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`graftbench/src`) using the Scala compiler
that ships among Spark's jars, so no build tool or dependency resolution is
needed. Classes land in `.bench_build/graftbench-<digest>/classes`, keyed by a
digest of every source file; an up-to-date build is reused.

    python3 graftbench/build.py          # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MAIN_SCALA = os.path.join(ROOT, "src", "main", "scala")
MAIN_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SCALA = os.path.join(BENCH_DIR, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the engine's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def _files(top, suffixes):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def sources():
    if not os.path.isdir(MAIN_SCALA):
        raise BuildError(f"engine sources missing: {MAIN_SCALA} (run from a full checkout)")
    main = _files(MAIN_SCALA, (".scala", ".java"))
    bench = _files(BENCH_SCALA, (".scala", ".java"))
    if not main or not bench:
        raise BuildError("no sources to compile")
    return main + bench


def digest(files):
    h = hashlib.sha256()
    for f in files + _files(MAIN_RESOURCES, ("",)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(log=sys.stderr):
    """Return the classes directory, compiling first when sources changed."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(BUILD_ROOT, f"graftbench-{digest(files)}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", cp] + files
    print(f"[graftbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(MAIN_RESOURCES):
        shutil.copytree(MAIN_RESOURCES, os.path.join(tmp, "classes"), dirs_exist_ok=True)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
