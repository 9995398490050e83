"""Build file of the benchmark package.

Compiles the program's sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``perfbench/src``) using the Scala compiler
that ships in the Spark distribution's jar directory (``$SPARK_HOME/jars``,
else the repository's ``unmanagedBase``), so a build needs no dependency
resolution. The output is reused while no source changes.

    python3 perfbench/build.py            # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def build():
    """Compile if needed; return the classes directory."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"build: no program sources at {program}")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: no Spark jar directory ({SPARK_JARS or 'unset'})")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build())
