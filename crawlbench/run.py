#!/usr/bin/env python3
"""Crawl benchmark entry point.

    python3 crawlbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source on first use (sbt, offline), runs one benchmark JVM, checks the
catalogue's results against DuckDB, and prints the result as the last line
of standard output: {"correct", "attempted", "failed", "metrics"}.
Workloads, metrics and their meaning: crawlbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle_compare  # noqa: E402

WORKLOADS = ["frontier_wide", "crawl_deep", "crawl_http", "catalogue"]
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(HERE, "data")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Heap by the repository test command's SPARK_DRIVER_MEM formula: half
    the RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """sbt build of engine + benchmark; skipped while launch.txt is newer
    than every source."""
    if os.path.exists(LAUNCH):
        built = os.path.getmtime(LAUNCH)
        if all(os.path.getmtime(s) <= built for s in sources()):
            return
    env = dict(os.environ, SPARK_DRIVER_MEM=driver_mem(), COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportLaunch"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   timeout=BUILD_TIMEOUT_S, check=True)


def jvm_command(args, work, out):
    with open(LAUNCH) as f:
        lines = [l.strip() for l in f if l.strip()]
    classpath, opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp directory: a run writes only
    # inside the checkout
    return (["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] +
            opts +
            ["-cp", classpath, "crawlbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(cores()), "--work", work, "--data", DATA, "--out", out])


def run_jvm(cmd):
    """Runs the benchmark JVM in its own process group; kills the group on
    timeout and waits for it."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        raise


def finite(v):
    return v if v == v and v not in (float("inf"), float("-inf")) else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit(f"crawlbench: no engine sources under {ROOT} (build.sbt, src/main/scala)")
    build()

    work = os.path.join(WORK, args.workload)
    out = os.path.join(WORK, f"{args.workload}.result.json")
    if os.path.exists(out):
        os.remove(out)
    code = run_jvm(jvm_command(args, work, out))
    if code != 0 or not os.path.exists(out):
        sys.exit(f"crawlbench: benchmark JVM failed (exit {code})")
    with open(out) as f:
        res = json.load(f)

    # catalogue results: the catalogue workload's passes, and the catalogue
    # probe of traced frontier_wide runs
    for d in res["check_dirs"]:
        cmp = oracle_compare.compare_dir(os.path.join(DATA, "sf0.01"), d,
                                         os.path.join(WORK, "oracle_cache"))
        res["attempted"] += cmp.attempted
        res["failed"] += cmp.failed
        res["failures"] += cmp.failures[:5]
    for f in res["failures"]:
        print(f"crawlbench: failed: {f}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"settings": res["settings"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": finite(v["value"]), "unit": v["unit"]}
                    for k, v in res["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
