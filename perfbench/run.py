#!/usr/bin/env python3
"""Dedup engine benchmark: one workload, one seed, one JVM.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the benchmark main
from source with sbt (perfbench/build.sbt depends on the root build);
later runs reuse that build until a source file changes. The JVM runs
`local[N]` with N = min(nproc, 4). Scratch files live under
.bench_build/perfbench and are removed at exit; a traced run keeps its
spans there as trace-<workload>-<seed>.json.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics. The line before it
holds the host facts.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(STATE, "build.stamp")
WORKLOADS = ("crawl_batch", "incremental_ingest")
HEAP = "3g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256(ROOT.encode())
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, limit, **kw):
    """Runs cmd in its own process group and waits for it. Kills the group
    past `limit` s, or when this process is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()

    def on_signal(signum, _):
        stop()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"{cmd[0]} did not finish within {limit:.0f} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def build(deadline):
    """Builds the engine and the benchmark main unless the build is current."""
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == want:
                return False
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeLauncher"]
    code, _ = run_child(cmd, HERE, env, deadline - time.monotonic(), stdout=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return True


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description="Dedup engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the engine")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]

    os.makedirs(STATE, exist_ok=True)
    built = build(start + BUILD_LIMIT_S - RUN_LIMIT_S)
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - start)

    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    # no hsperfdata file in the system temp dir: the run writes only
    # inside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + lines[1:] + ["-cp", lines[0], "perfbench.Main",
                          "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace,
                          "--work-dir", work,
                          "--trace-file",
                          os.path.join(STATE, f"trace-{a.workload}-{a.seed}.json"),
                          "--git-head", git_head()])
    try:
        code, out = run_child(cmd, ROOT, os.environ, limit, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    res = json.loads(lines[-1])
    missing = [m for m in wanted if res["metrics"].get(m, {}).get("value") is None]
    if missing:
        fail("metrics not measured: " + ", ".join(missing))
    print("host " + json.dumps(dict(res["host"], **res["detail"])))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {m: res["metrics"][m] for m in wanted}}))


if __name__ == "__main__":
    main()
