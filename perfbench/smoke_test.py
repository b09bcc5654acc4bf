#!/usr/bin/env python3
"""The benchmark's own test: every workload through the same code, small.

    python3 perfbench/smoke_test.py [--with-trace]

Run from the repository root. For each workload it runs `run.py --smoke`
(a tenth of the units) and checks the result line: correct, nothing
failed, and exactly the metrics BENCHMARK.json lists. `--with-trace` adds
a traced run of each workload. Last, it checks that the benchmark refuses
to run, without a result, from a directory holding only BENCHMARK.json
and perfbench/. About two minutes once built (five with --with-trace).
"""
import json
import os
import shutil
import subprocess
import sys

from run import HERE, ROOT, WORKLOADS


def run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, text=True, timeout=1200)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    problems = []
    traces = (0, 1) if "--with-trace" in sys.argv else (0,)
    for w in WORKLOADS:
        for trace in traces:
            n0 = len(problems)
            r = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--smoke")
            label = f"{w} trace={trace}"
            if r.returncode != 0:
                problems.append(f"{label}: exit {r.returncode}")
                print(problems[-1], flush=True)
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{label}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            if set(res["metrics"]) != want[trace]:
                problems.append(f"{label}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(res['metrics']) ^ want[trace])}")
            print(f"{label}: " + ("; ".join(problems[n0:]) or "ok"), flush=True)

    # without the engine's sources the benchmark must fail, printing nothing
    bare = os.path.join(HERE, "out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "target"))
    r = run(bare, "--workload", "rc_boot", "--seed", "1", "--seconds", "1")
    shutil.rmtree(bare)
    if r.returncode == 0 or r.stdout.strip():
        problems.append(f"bare directory: exit {r.returncode}, "
                        f"stdout {r.stdout.strip()[:200]!r}")
    print("bare directory: " + ("ok" if r.returncode else "ran"), flush=True)

    if problems:
        sys.exit("FAILED\n" + "\n".join(problems))
    print("all smoke checks passed")


if __name__ == "__main__":
    main()
