#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) into perfbench/target and records
the classpath under .bench_build/; later runs start the JVM directly on
that classpath, so no sbt logger sits between the program and this
script. A run rebuilds when any engine or harness source changed.

The JVM (perfbench.Main) runs the workload and writes every answer of
its cold pass as parquet; tools/compare.py then diffs those answers
against DuckDB. The last line of standard output is one JSON
object: `correct`, `attempted` (queries in the workload), `failed`
(queries that threw or whose answer differs from the oracle) and
`metrics` — the end-to-end metrics of BENCHMARK.json with `--trace 0`,
its per-layer metrics with `--trace 1`. Lines before it list the same
metrics for people, with the tail percentile, its sample count and every
mismatching query by name.

Exit codes: 0 with a result; 1 when the engine sources, tools/compare.py,
the data or the toolchain are missing, the build fails, or the JVM fails
or times out (no result is printed then).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
from reader import last_json  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
COMPARE = os.path.join(ROOT, "tools", "compare.py")
DATA = os.path.join(HERE, "data")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

RUN_LIMIT_S = 170  # a run must end within 180 s once built
BUILD_LIMIT_S = 850
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    inputs = [ENGINE_SRC, os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_LIMIT_S)
        log.write(proc.stdout)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cps = [ln for ln in lines if ln.endswith((".jar", "classes"))
           and os.pathsep in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    path = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not path or not os.path.exists(path):
        fail("no java: set JAVA_HOME or put java on PATH")
    return path


def run_jvm(classpath, args, out, deadline):
    local = os.path.join(out, "spark-local")
    tmp = os.path.join(out, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--out", out,
            "--cores", str(len(os.sched_getaffinity(0)))]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                cmd, env=env, stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish in time, see {log_path}")
    result = last_json(proc.stdout)
    if proc.returncode != 0 or result is None:
        fail(f"workload failed (exit {proc.returncode}), see {log_path}")
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    return result


def oracle_check(scale_dir, check_dir, deadline):
    """Names whose answer tools/compare.py reports as differing."""
    proc = subprocess.run(
        [sys.executable, COMPARE, scale_dir, check_dir],
        cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True,
        timeout=max(1.0, deadline - time.monotonic()))
    with open(os.path.join(check_dir, "compare.log"), "w") as f:
        f.write(proc.stdout)
    bad = set(re.findall(r"^FAIL (\S+?):", proc.stdout, re.M))
    ok = set(re.findall(r"^ok\s+(\S+)", proc.stdout, re.M))
    if not ok and not bad:
        fail(f"oracle compare produced no verdicts:\n{proc.stdout[-2000:]}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    for path in (ENGINE_SRC, COMPARE, DATA, SPEC):
        if not os.path.exists(path):
            fail(f"missing {os.path.relpath(path, ROOT)}: run from a full "
                 "checkout of the repository")
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    out = os.path.join(BUILD, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result = run_jvm(classpath, args, out, deadline)
    shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)

    scale_dir = os.path.join(DATA, result["scale"])
    mismatched = oracle_check(scale_dir, os.path.join(out, "check"), deadline)
    failed = sorted(mismatched | set(result["threw"]))
    attempted = result["queries"]
    measured = dict(result["end_to_end"], **result["per_layer"])
    measured["pass_ratio"] = (attempted - len(failed)) / attempted
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"the program reported no value for {missing}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in wanted}

    print(f"workload {args.workload} at {result['scale']}, seed {args.seed}, "
          f"{result['cores']} cores, {result['timed_passes']} timed passes, "
          f"{result['samples']} query samples")
    print("  timed pass walls (s): "
          + " ".join(f"{s:.3f}" for s in result["pass_wall_s"]))
    print("  run phases (s): " + " ".join(
        f"{k} {v:.1f}" for k, v in result["phase_s"].items()))
    for name, m in metrics.items():
        note = ""
        if name == "query_tail_ms":
            note = (f"  (p{result['tail_percentile']:g}, "
                    f"{result['tail_beyond']} of {result['samples']} "
                    "samples beyond it)")
        print(f"  {name:<32} {m['value']:>16.4f} {m['unit']}{note}")
    print(f"  ERROR log lines {result['error_lines']} "
          f"({result['lost_accumulator_lines']} lost-accumulator)")
    for name in failed:
        why = result["threw"].get(name, "answer differs from the oracle")
        print(f"  FAILED {name}: {why}")
    if args.trace:
        print(f"  per-query rows and spans: {os.path.join(out, 'trace')}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
