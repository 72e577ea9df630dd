"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src, perfbench/test) into one class
directory, with the Scala compiler that ships among the Spark jars the
program's build.sbt compiles against. A build whose inputs are unchanged
is reused.

usage, from the repository root:  python3 perfbench/build.py
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
SOURCE_DIRS = ["src/main/scala", "perfbench/src", "perfbench/test"]
OUT = ".bench_build/perfbench"


def spark_jars() -> str:
    """The Spark jar directory the program's own build.sbt compiles
    against (`unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(root: str) -> list:
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(root: str, files: list) -> str:
    h = hashlib.sha256()
    for path in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root: str = ROOT) -> str:
    """Returns the class directory, compiling first when sources changed."""
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    files = sources(root)
    fp = fingerprint(root, files)
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp, encoding="utf-8") as f:
            if f.read() == fp:
                return classes
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"{name}-2.13*.jar"))
                for name in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        raise SystemExit(f"no Scala 2.13 compiler jars under {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    classpath = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp,
           "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.run(cmd, cwd=root, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"compilation failed ({rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w", encoding="utf-8") as f:
        f.write(fp)
    return classes


if __name__ == "__main__":
    print(build())
