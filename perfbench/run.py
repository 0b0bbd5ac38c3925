"""Benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark
from source when they changed (see build.py), runs one workload in one
JVM, and prints the JVM's report with, as the last line of standard
output, one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is 0 only when every output check passed.

`--record-golden` writes the query and stream output values of the
given seed to perfbench/golden/ instead of checking against them.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = os.path.dirname(BENCH)
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these opens when the session is created outside
# spark-submit (the list org.apache.spark.launcher.JavaModuleOptions uses).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(classes, jars, tmp, main, args):
    return (["java", *OPENS, "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", main] + args)


def run_jvm(cmd, deadline):
    """Run the JVM until `deadline` (time.monotonic()); return (exit code,
    stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3, []
    return proc.returncode, out.splitlines()


def run_seconds():
    """The default `--seconds`: BENCHMARK.json's run_seconds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=run_seconds())
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-golden", action="store_true")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    try:
        classes, jars = build.build(ROOT)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_TIMEOUT_S
    tmp = os.path.join(BENCH, ".work", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        if a.selftest:
            return selftest(classes, jars, tmp, deadline)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--bench-dir", BENCH]
        if a.record_golden:
            args.append("--record-golden")
        code, lines = run_jvm(java_cmd(classes, jars, tmp, "perfbench.Main", args), deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            obj = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(obj, dict) and "correct" in obj:
            result = lines.pop(i)
            break
    for line in lines:
        print(line)
    if result is None:
        print(f"perfbench: no result line (exit code {code})", file=sys.stderr)
        return code or 4
    print(result, flush=True)
    return code


def selftest(classes, jars, tmp, deadline):
    """Generator determinism, checker perturbations (in the JVM), and
    the metric names against BENCHMARK.json."""
    code, lines = run_jvm(java_cmd(classes, jars, tmp, "perfbench.SelfTest", ["--bench-dir", BENCH]), deadline)
    for line in lines:
        print(line)
    names = None
    for line in lines:
        if line.startswith("metric-names "):
            names = json.loads(line[len("metric-names "):])
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = code == 0 and names is not None
    if names is not None:
        for key in ("end_to_end", "per_layer"):
            declared = [(m["name"], m["unit"]) for m in spec[key]]
            printed = [tuple(x) for x in names[key]]
            same = sorted(declared) == sorted(printed)
            print(f"selftest {'ok  ' if same else 'FAIL'} {key} names and units match BENCHMARK.json")
            ok = ok and same
        wl = sorted(w["name"] for w in spec["workloads"])
        same = wl == sorted(names["workloads"])
        print(f"selftest {'ok  ' if same else 'FAIL'} workload names match BENCHMARK.json")
        ok = ok and same
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
