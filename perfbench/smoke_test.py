"""Smoke test of the benchmark: every workload, both modes, short window.

    python3 perfbench/smoke_test.py

Runs every workload untraced and traced at the benchmark's own scale (a
600-entity lake, the sf0.001 registry subset) with a short window, and
asserts that each run prints every metric BENCHMARK.json
declares for its mode, with the declared unit, and passes its checks. Then
runs a traced run against an expected-digest file with one digest
corrupted and asserts that the run fails. Takes several minutes.
"""
import json
import os
import subprocess
import sys

SHORT = ["--seconds", "3"]
BUILD = os.path.join(".bench_build", "perfbench", "smoke")


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace)] + SHORT + list(extra)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=900)
    assert p.returncode == 0, "%s exited %d" % (cmd, p.returncode)
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    failures = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            r = run(w, trace)
            got = r["metrics"]
            want = {m["name"]: m["unit"] for m in declared}
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            units = sorted(k for k in want if k in got and got[k]["unit"] != want[k])
            if missing or extra or units or not r["correct"] or r["failed"]:
                failures.append("%s trace=%d: missing=%s extra=%s units=%s correct=%s failed=%s"
                                % (w, trace, missing, extra, units, r["correct"], r["failed"]))
            else:
                print("ok %s trace=%d: %d metrics" % (w, trace, len(got)))

    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join("perfbench", "expected", "registry.json")) as f:
        expected = json.load(f)
    first = sorted(expected)[0]
    rows, lo, hi = expected[first].split(":")
    expected[first] = "%s:%x:%s" % (rows, int(lo, 16) + 1, hi)
    corrupt = os.path.join(BUILD, "registry-corrupt.json")
    with open(corrupt, "w") as f:
        json.dump(expected, f)
    r = run(bench["workloads"][0]["name"], 1, "--expected", corrupt)
    if r["correct"] or r["failed"] < 1:
        failures.append("a corrupted digest for %s did not fail the run: %s" % (first, r))
    else:
        print("ok corrupted digest for %s fails the run" % first)

    for f in failures:
        print("FAIL " + f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
