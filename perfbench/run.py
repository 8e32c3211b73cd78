#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--corrupt <check>] [--record]

The first run in a checkout builds the program and the benchmark with sbt
(offline); later runs reuse the build while the sources are unchanged.
The last line of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics; the traced run also writes every span and
counter to .bench_build/perfbench/trace-<workload>-<seed>.json.

--corrupt <check> corrupts one output before it is checked (see
perfbench/selftest.py); --record stores this run's output digests in
perfbench/expected.json as the values later runs at that seed must match.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
DATA = os.path.join(HERE, "data")
RUN_LIMIT_S = 170  # the run itself, after any build
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's build and sources, and the
    benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties")) or "resources" in d]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Return the runtime classpath, building first if the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    fp = fingerprint(source_files())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], fp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"]
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                             stderr=fh, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out after {BUILD_LIMIT_S}s (log: {log})")
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}, log: {log})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp, fp


def heap_mb():
    """A quarter of the host's memory, between 2 and 6 GB."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(2048, min(6144, total_kb // 4096))


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


def run_jvm(cp, args, work, out, deadline):
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}-{args.seed}-{args.trace}.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out, "--data", DATA]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run timed out (log: {log})", 3)
    if p.returncode != 0 or not os.path.isfile(out):
        fail(f"run failed with exit {p.returncode} (log: {log})", 3)
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--corrupt", default="")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json is missing")
    with open(bench_file) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")

    cp, fp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(cp, args, work, os.path.join(work, "result.json"), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = list(r["checks"])
    attempted = max(1, int(r["attempted"]))
    failed = int(r["failed"])
    if r["error"]:
        checks.append({"name": "no_exception", "ok": False, "detail": r["error"]})
        failed = attempted

    # recorded digests: the same inputs must give the same outputs. The run
    # names the key its outputs depend on ("any" when the seed only reorders
    # the operations, else the seed and the timed iteration count); a key
    # with nothing recorded is not checked.
    expected = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    key = r["digest_key"]
    want = expected.get(args.workload, {}).get(key, {})
    for name, value in sorted(want.items()):
        got = r["digests"].get(name)
        ok = got == value
        checks.append({"name": f"recorded:{name}", "ok": ok, "detail": f"{got} vs recorded {value}"})
        if not ok:  # a query digest covers that query's run; the crawl's cover the loop
            failed = min(attempted, failed + 1) if name.startswith("query:") else attempted
    correct = failed == 0 and all(c["ok"] for c in checks)

    if args.record and correct:
        expected.setdefault(args.workload, {})[key] = r["digests"]
        with open(EXPECTED, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    got = r["metrics"]
    # A layer (a name's first part) that the workload never calls into
    # reads 0; a layer it does call must report every metric.
    layers = {k.split(".", 1)[0] for k in got}
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif args.trace and name.split(".", 1)[0] not in layers:
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        elif not correct:
            continue  # a failed run reports no time for what it did not finish
        else:
            fail(f"workload {args.workload} did not report {name}", 4)

    host = dict(r["host"])
    host.update({"git_sha": git_sha(), "source_sha256": fp, "heap_xmx_mb": str(heap_mb()),
                 "command": " ".join(sys.argv)})
    print(json.dumps({"host": host}))
    print(json.dumps({"checks": checks}))
    if args.trace:
        path = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(dict(r, checks=checks, host=host), fh, indent=1, sort_keys=True)
        print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
