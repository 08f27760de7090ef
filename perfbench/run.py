#!/usr/bin/env python3
"""Layered benchmark for both surfaces of graft: analytics query rows and
the OLTP envelope (HTTP -> command JSON -> engine).

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py ... --self-test      # inject one failing row / request
    python3 perfbench/run.py --write-fingerprints # regenerate expected/sf0.01.json

Workloads: sql-ops, llm-pipelines, oltp-mixed (see README.md).
The first run compiles src/main/scala plus perfbench/src with the Scala
compiler that ships in $SPARK_HOME/jars, into perfbench/build; later runs
reuse it while the sources are unchanged. Every metric prints as a bare
JSON line; the last line of standard output is the summary object.
Results are also kept per core count under perfbench/out/results-c<cores>.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
BUILD = os.path.join(HERE, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.json")
WORKLOADS = ["sql-ops", "llm-pipelines", "oltp-mixed"]
JVM_TIMEOUT_S = 170
HEAP = "4g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution (its jars/ holds "
             "the Spark and Scala jars this build compiles against)")
    return os.path.join(home, "jars")


def scala_files():
    for d in SOURCES:
        if not os.path.isdir(d):
            fail(f"source directory {os.path.relpath(d, ROOT)} is missing; "
                 "run from a full checkout")
    files = sorted(glob.glob(os.path.join(SOURCES[0], "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(SOURCES[1], "**", "*.scala"), recursive=True))
    if not any(f.startswith(SOURCES[0]) for f in files):
        fail("no Scala sources under src/main/scala")
    return files


def build(jars):
    """Compile when the sources changed since the last build."""
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler jars in {jars}")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        fail("compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(jars, args):
    """Start the benchmark JVM in its own process group; returns (code,
    stdout lines). The group is killed on timeout so nothing outlives us."""
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", CLASSES + ":" + os.path.join(jars, "*"), "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            env=env, cwd=ROOT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, out.splitlines()


def overhead_lines(results_dir, workload, metrics):
    """Tracing overhead: trace_probe_ms of this traced run minus that of the
    latest untraced run of the workload at this core count (the mean row
    time of the timed passes; on oltp-mixed, in-process point reads)."""
    path = os.path.join(results_dir, f"{workload}-trace0.jsonl")
    traced = next((m for m in metrics if m.get("name") == "trace_probe_ms"), None)
    if traced is None or not os.path.exists(path):
        return []
    untraced = {m["name"]: m for m in map(json.loads, open(path)) if "name" in m}
    if "trace_probe_ms" not in untraced:
        return []
    base = untraced["trace_probe_ms"]["value"]
    return [dict(traced, name="trace.overhead_ms", value=traced["value"] - base),
            dict(traced, name="trace.overhead_frac", value=(traced["value"] - base) / base,
                 unit="ratio")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--write-fingerprints", action="store_true")
    a = ap.parse_args()
    jars = spark_jars()
    build(jars)
    n = cores()
    if a.write_fingerprints:
        code, lines = run_jvm(jars, ["--write-fingerprints", EXPECTED, "--data", DATA,
                                     "--cores", str(n), "--out", OUT])
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isfile(EXPECTED) or not os.path.isdir(DATA):
        fail("benchmark data or expected fingerprints are missing")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(n), "--data", DATA,
            "--expected", EXPECTED, "--out", OUT] + (["--self-test"] if a.self_test else [])
    code, lines = run_jvm(jars, args)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with code {code}")
    summary = json.loads(lines[-1])
    metrics = [json.loads(l) for l in lines[:-1] if l.startswith("{")]
    results_dir = os.path.join(OUT, f"results-c{n}")
    metrics += overhead_lines(results_dir, a.workload, metrics)
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{a.workload}-trace{a.trace}.jsonl"), "w") as fh:
        for m in metrics + [summary]:
            fh.write(json.dumps(m) + "\n")
    for m in metrics:
        print(json.dumps(m))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
