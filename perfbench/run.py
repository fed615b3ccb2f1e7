#!/usr/bin/env python3
"""Run the repository benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, into
``perfbench/target`` and ``target``), then runs one benchmark JVM per
workload. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
With ``--workload all`` every workload in ``BENCHMARK.json`` runs in turn
and the last line maps each workload to its result object.

Everything a run writes stays under ``perfbench/.work``; a traced run
leaves its spans there as ``spans-<workload>-<seed>.jsonl``.
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
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
KEYS = {"correct", "attempted", "failed", "metrics"}


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_newest():
    """Newest modification time among the files the build reads."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = [d for d in dirnames if d != "target"]
            files.extend(os.path.join(dirpath, f) for f in filenames)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout.
    Returns (exit code or None on timeout, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= sources_newest():
        return True
    log("building the engine and the benchmark (sbt)")
    t0 = time.time()
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "launchFile"],
                          HERE, BUILD_TIMEOUT_S, env=sbt_env(), stdout=sys.stderr)
    log(f"build finished in {time.time() - t0:.0f}s with code {code}")
    return code == 0 and os.path.isfile(LAUNCH)


def run_one(workload, seed, seconds, trace):
    """One benchmark JVM. Returns the result object, or None."""
    with open(LAUNCH) as f:
        launch = [line.rstrip("\n") for line in f if line.strip()]
    opts, classpath = launch[:-1], launch[-1]
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           *opts, "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; unset, shuffle
    # and spill files stay in the run's work directory.
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, env=env, stdout=subprocess.PIPE)
    if code is None:
        log(f"{workload}: timed out after {RUN_TIMEOUT_S}s")
        return None
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        log(f"{workload}: benchmark exited with code {code}")
        return None
    try:
        result = json.loads(lines[-1])
    except ValueError:
        log(f"{workload}: last line is not JSON")
        return None
    if not isinstance(result, dict) or set(result) != KEYS:
        log(f"{workload}: result line has keys {sorted(result) if isinstance(result, dict) else result}")
        return None
    return result


def main():
    # A terminated run still stops the JVM or sbt it started (run_bounded's
    # finally kills their process group).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources under {ROOT}: nothing to benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    names = workloads if a.workload == "all" else [a.workload]
    if any(n not in workloads for n in names):
        log(f"unknown workload {a.workload}; one of {', '.join(workloads)} or all")
        return 2
    if not build():
        return 1

    results = {}
    for name in names:
        r = run_one(name, a.seed, a.seconds, a.trace)
        if r is None:
            return 1
        results[name] = r
        if a.workload == "all":
            print(f"== {name}: failed {r['failed']} of {r['attempted']}")
            for metric, v in r["metrics"].items():
                print(f"   {metric:28s} {v['value']:16.4f} {v['unit']}")
    print(json.dumps(results[names[0]] if a.workload != "all" else results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
