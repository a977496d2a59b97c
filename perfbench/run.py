"""graft benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload lake_serve --seed 1 --seconds 16 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one JVM, checks its outputs, and prints one JSON line
as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A detail artifact (host-noise stamp, samples, spans, per-query timings)
is written under .bench_build/perfbench/artifacts/. Everything the run
writes stays under .bench_build/ and is removed except the artifact.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake_serve", "lake_ingest")
JVM_TIMEOUT_S = 170
DATA = os.path.join("perfbench", "data", "sf0.001")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # expected registry digests; the smoke test points this at a
    # corrupted copy to check that a wrong digest fails the run
    ap.add_argument("--expected", default=os.path.join("perfbench", "expected", "registry.json"))
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    for p in (DATA, a.expected):
        if not os.path.exists(p):
            print("perfbench: missing %s" % p, file=sys.stderr)
            return 2

    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.BUILD_DIR, "work", "%s-%d" % (tag, os.getpid()))
    arts = os.path.join(build.BUILD_DIR, "artifacts")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(arts, exist_ok=True)
    out = os.path.join(work, "result.json")
    artifact = os.path.join(arts, tag + ".json")

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.abspath(os.path.join(work, "tmp")),
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.abspath(work), "--out", out, "--artifact", artifact,
            "--expected", os.path.abspath(a.expected)]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)

    def stop():
        # the JVM runs in its own session: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    signal.signal(signal.SIGINT, lambda *_: (stop(), sys.exit(130)))
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        print("perfbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 3
    try:
        with open(out) as f:
            result = json.load(f)
    except (OSError, ValueError) as e:
        print("perfbench: no result (jvm exit %d): %s" % (rc, e), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 4
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench: artifact %s" % artifact, file=sys.stderr)
    print(json.dumps(result))
    return 0 if rc == 0 else 5


if __name__ == "__main__":
    sys.exit(main())
