#!/usr/bin/env python3
"""DiD pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload rc_boot --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark with sbt
on first use (or when a source changed), records the machine state, runs
one benchmark JVM (perfbench.DidBench) and prints, as its last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
gives the end-to-end metrics, `--trace 1` the per-layer ones. The full
record of the run, with the per-call spans of a traced run, goes to
perfbench/out/. `--smoke` runs the same code on a tenth of the units.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("rc_boot", "rc_cov", "panel_grid")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# inputs of the build: a change to any of them triggers a rebuild
BUILD_INPUTS = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        files = [top] if os.path.isfile(top) else []
        for d, dirs, names in os.walk(top):
            # build outputs, and sbt's meta-build under project/, are not inputs
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
        for p in files:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def wait_group(proc, timeout, what):
    """Wait for a process started in its own session and return (exit code,
    stdout); on timeout kill its whole process group, wait, and fail."""
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} exceeded {timeout} s", 3)
    return proc.returncode, out


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    if "-Dsbt.offline=true" not in opts:
        opts.append("-Dsbt.offline=true")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and not any(
            o.startswith("-Dsbt.repository.config") for o in opts):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx3g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark; return (classpath, jvm options)."""
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    opts_file = os.path.join(TARGET, "bench-jvm-options.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    stamp = source_stamp()
    fresh = all(os.path.isfile(f) for f in (cp_file, opts_file, stamp_file))
    if not fresh or open(stamp_file).read() != stamp:
        t = time.time()
        print("perfbench: building with sbt", file=sys.stderr)
        code, _ = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=sbt_env(), stdout=sys.stderr,
            start_new_session=True), BUILD_TIMEOUT_S, "sbt build")
        if code != 0:
            fail(f"sbt build failed (exit {code})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"perfbench: built in {time.time() - t:.0f} s", file=sys.stderr)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [o for o in f.read().split("\n") if o]
    return cp, opts


def driver_heap():
    """Driver heap as the tier-1 tests size it: half of RAM, 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def canary_s():
    """Median of five runs of a fixed single-thread loop."""
    def once():
        t = time.perf_counter()
        x = 0
        for i in range(400_000):
            x = (x * 31 + i) % 1_000_003
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(5))


def machine_state():
    state = {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg())}
    try:
        with open("/proc/meminfo") as f:
            state["mem_available_mb"] = next(
                int(l.split()[1]) // 1024 for l in f
                if l.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        pass
    state["canary_s"] = canary_s()
    return state


def run_jvm(args, cp, jvm_opts, cpus):
    data = os.path.join(OUT, "data", args.workload)
    tmp = os.path.join(OUT, "tmp")
    for d in (data, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{driver_heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + jvm_opts +
           ["-cp", cp, "perfbench.DidBench", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus), "--data", data,
            "--smoke", "1" if args.smoke else "0"])
    try:
        code, stdout = wait_group(subprocess.Popen(
            cmd, cwd=OUT, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True), RUN_TIMEOUT_S, "benchmark JVM")
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        fail(f"benchmark JVM failed (exit {code})", 3)
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="a tenth of the units, for the benchmark's own test")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are missing")
    os.makedirs(TARGET, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    cp, jvm_opts = build()

    cpus = len(os.sched_getaffinity(0))
    before = machine_state()
    res = run_jvm(args, cp, jvm_opts, cpus)
    after = machine_state()

    detail = res.pop("detail")
    detail["machine"] = {"start": before, "end": after}
    kind = "trace" if args.trace else "e2e"
    tag = "smoke-" if args.smoke else ""
    with open(os.path.join(OUT, f"{tag}{args.workload}-{kind}-seed{args.seed}.json"),
              "w") as f:
        json.dump(dict(res, detail=detail), f, indent=1)
    summary = {k: detail[k] for k in ("input", "pipeline_s", "errors", "machine")}
    print("perfbench detail " + json.dumps(summary))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
