"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository
root) together with the benchmark's own sources (`perfbench/src`) into
`perfbench/.build/classes`, with the Scala compiler that ships in the
Spark distribution's jar directory. A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(BENCH, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "STAMP")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else next to the
    `spark-submit` found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources(root):
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"program sources not found under {program}")
    files = []
    for base in (program, os.path.join(BENCH, "src", "main", "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, os.path.dirname(BENCH)).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; return (classes dir, jar dir)."""
    jars = spark_jars()
    files = sources(root)
    stamp = stamp_of(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == stamp and os.path.isdir(CLASSES):
        return CLASSES, jars
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        raise BuildError(f"compile failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build(os.path.dirname(BENCH))[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
