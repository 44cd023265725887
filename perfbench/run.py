#!/usr/bin/env python3
"""Benchmark of the graft scoring core and query registry.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: interactive_staged and registry_light (see BENCHMARK.json; "all"
runs these two), and interactive_single and bulk_single, which do not fit the
benchmark's time budget and are run by hand. The first run in a checkout
compiles the engine and the harness with sbt (perfbench/build.sbt) and records
the classpath; later runs start the JVM directly and rebuild only when a
source file changed.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer ones. Each run also writes its full record (run
conditions, every call, and for traced runs the spans and per-layer Spark
counters) to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["interactive_staged", "registry_light"]
EXTRA_WORKLOADS = ["interactive_single", "bulk_single"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
EXTRA_RUN_TIMEOUT_S = 900
JVM = ["-Xmx3g"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles with sbt unless the recorded launch matches the sources."""
    if os.path.exists(STAMP) and os.path.exists(LAUNCH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "benchLaunch"]
    print("perfbench: building (sbt benchLaunch) ...", file=sys.stderr, flush=True)
    code, out = run_bounded(cmd, HERE, env, BUILD_TIMEOUT_S, capture=True)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_bounded(cmd, cwd, env, timeout, capture):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, stdout text)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT if capture else None,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return 124, out or ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def commit_id(digest):
    """The git commit when the checkout is a work tree of its own, else a
    hash of the sources."""
    def git(*args):
        r = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    try:
        top = git("rev-parse", "--show-toplevel")
        if top and os.path.realpath(top) == os.path.realpath(ROOT):
            return git("rev-parse", "HEAD")
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest[:16]


def run_workload(workload, seed, seconds, trace, commit):
    opts, cp = [], []
    with open(LAUNCH) as fh:
        for line in fh.read().splitlines():
            kind, _, value = line.partition(" ")
            (opts if kind == "opt" else cp).append(value)
    tmp = os.path.join(TARGET, f"tmp-{os.getpid()}-{workload}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    record = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")
    cmd = (["java"] + JVM + opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", DATA, "--out", record, "--commit", commit])
    try:
        timeout = RUN_TIMEOUT_S if workload in WORKLOADS else EXTRA_RUN_TIMEOUT_S
        code, out = run_bounded(cmd, tmp, dict(os.environ), timeout, capture=False)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"{workload}: benchmark process exited with {code}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources are not next to the benchmark; run it from a checkout")
    if not os.path.isdir(DATA):
        fail(f"missing registry tables in {os.path.relpath(DATA, ROOT)}")
    digest = source_hash()
    build(digest)
    commit = commit_id(digest)

    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for name in names:
        lines = run_workload(name, a.seed, a.seconds, a.trace, commit)
        print("\n".join(lines[:-1]), flush=True)
        results[name] = json.loads(lines[-1])
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
