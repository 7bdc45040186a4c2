#!/usr/bin/env python3
"""Layered north-rule benchmark for graft.

    python3 perfbench/run.py --workload crawl-e2e --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first call compiles the program
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) into .bench_build/, using the Scala compiler that ships
with Spark (found through SPARK_HOME, or spark-submit on PATH). Later calls
reuse the build while the sources are unchanged.

One benchmark process is a single JVM at local[nproc]. It sets up the
workload's input, warms up, then repeats the workload's timed pass for
--seconds and reports medians. Each pass is followed by its output checks.
The last line of standard output is the result object; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (from traced passes, with
tracing overhead against the untraced passes of the same process). Spans go
to .bench_work/traces/. Metric names and units are those of BENCHMARK.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
SPEC = ROOT / "BENCHMARK.json"

JVM_SECONDS = 172  # the whole process must end within 180 s
HEAP = "3g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else (shutil.which("java") or fail("java not found"))


def build(jars):
    """Compile program + benchmark sources unless the stamped build is current."""
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13*.jar"))
        if not found:
            fail(f"{name} jar missing from {jars}")
        compiler.append(str(found[-1]))
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    args = BUILD / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss64m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-cp", str(jars / "*"), f"@{args}"]
    if subprocess.run(cmd, timeout=800).returncode != 0:
        fail("compilation failed", 3)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def launch(cmd, seconds):
    """Run the JVM in its own process group; forward its output; return
    (exit code, result line). Kills the group at the deadline."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith('{"correct"'):
                print(line, flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=seconds)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reader.join(5)
        fail(f"benchmark process passed its {seconds} s deadline and was stopped", 4)
    reader.join(10)
    result = next((l for l in reversed(lines) if l.strip()), "")
    return code, result


def validate(result, trace):
    """The result object must carry exactly the metrics BENCHMARK.json names."""
    spec = json.loads(SPEC.read_text())
    want = spec["per_layer" if trace else "end_to_end"]
    obj = json.loads(result)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(obj)}", 5)
    got = obj["metrics"]
    if set(got) != {m["name"] for m in want}:
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in want})}", 5)
    for m in want:
        v = got[m["name"]]
        if v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)) \
                or not math.isfinite(v["value"]):
            fail(f"bad metric {m['name']}: {v}", 5)
    if not isinstance(obj["attempted"], int) or obj["attempted"] < 1:
        fail("no stage call attempted", 5)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that a deliberately failing stage is accounted as failed")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}; run from a full checkout")
    if not SPEC.is_file():
        fail("BENCHMARK.json not found next to perfbench/")

    jars = spark_jars()
    classes = build(jars)
    started = time.monotonic()
    workload = "self-test" if a.self_test else a.workload
    run_dir = WORK / "run" / workload
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss64m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           *ADD_OPENS, "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
           "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(run_dir),
           "--trace-dir", str(WORK / "traces")]
    try:
        code, result = launch(cmd, JVM_SECONDS - (time.monotonic() - started))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.self_test:
        sys.exit(code)
    if code != 0:
        fail(f"benchmark process exited with {code}", 6)
    validate(result, a.trace == 1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
