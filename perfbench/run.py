#!/usr/bin/env python3
"""Runs one benchmark workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.sbt compiles ../src/main/scala with
the harness) when a source is newer than the last build, runs the workload
in a fresh JVM with its own work directory, checks every output against
the DuckDB reference (check.py), prints each metric with its unit and, as
the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Exits nonzero on a wrong output, a
failed operation or a failed self-check.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
BUILD_FILES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
# The workload run (JVM, reference check) must end this long after the
# build; a build has its own limit, within the 900 s a first run may take.
DEADLINE_S = 165
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these module openings.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest(paths):
    t = 0.0
    for p in paths:
        if os.path.isfile(p):
            t = max(t, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                t = max(t, os.path.getmtime(os.path.join(d, f)))
    return t


def build():
    """Compiles graft plus the harness with sbt, offline, and returns the
    runtime classpath. Skipped when nothing changed since the last build."""
    if not os.path.isdir(SOURCES[0]):
        die(f"graft sources not found at {SOURCES[0]}")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest(SOURCES + BUILD_FILES):
        return open(CLASSPATH).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                         cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    lines = [l for l in open(log_path, errors="replace").read().splitlines() if l.strip()]
    if code != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build timed out" if code is None else "build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    tmp = CLASSPATH + ".tmp"
    with open(tmp, "w") as f:
        f.write(lines[-1].strip())
    os.replace(tmp, CLASSPATH)
    return lines[-1].strip()


def run_jvm(cp, args, work, budget):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work,
        "--launch-ms", str(int(time.time() * 1000))]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        return run_group(cmd, budget, stdout=log, stderr=subprocess.STDOUT)


def run_group(cmd, budget, **kw):
    """Runs `cmd` in its own process group and returns its exit code, or
    None when it outlives `budget` seconds. The whole group is killed and
    reaped before returning, also when this process is interrupted."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1.0, budget))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    launched = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    start = time.time()
    print(f"  time: build check and build {start - launched:.1f} s")
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(cp, args, work, DEADLINE_S - (time.time() - start))
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            die("timed out" if code is None else f"workload run failed (exit {code})", 1)
        res = json.load(open(result_path))

        t_check = time.time()
        import check  # duckdb is only needed once there is something to check
        checks = check.verify(args.workload, os.path.join(work, "inputs"), res["outputs"])
        print(f"  time: workload process {t_check - start:.1f} s, reference check {time.time() - t_check:.1f} s")
        problems = list(res["problems"])
        problems += [f"{name}: {why}" for name, why in checks if why]
        if not checks:
            problems.append("no output was checked")

        attempted, failed = int(res["attempted"]), int(res["failed"])
        print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
              f"{res['passes']} passes, {attempted} operations, {failed} failed "
              f"(failed_ratio {failed / max(1, attempted):.4f} ratio)")
        print(f"  input_digest: {res['input_digest']}")
        for k, v in res["notes"].items():
            print(f"  {k}: {v}")
        for name, why in checks:
            print(f"  check {name}: {'ok' if why is None else why}")
        for p in res["problems"]:
            print(f"  problem: {p}")

        got = res["metrics"]
        metrics = {}
        for m in wanted:
            v = got.get(m["name"], {}).get("value")
            if v is None:
                if args.trace:
                    v = 0.0  # a layer this workload does not exercise
                else:
                    problems.append(f"metric {m['name']} missing")
                    continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"  {m['name']:34s} {v:>16.6f} {m['unit']}")
        for k in sorted(set(got) - {m["name"] for m in wanted}):
            print(f"  ({k:32s} {got[k]['value']:>16.6f} {got[k]['unit']})")

        correct = not problems and failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
