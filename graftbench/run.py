#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 graftbench/run.py --workload geo --seed 1 --seconds 1 --trace 0

Builds graft and the benchmark from source when stale (build.py), then
runs the workload in one JVM with Spark local[min(4, nproc)]. The last
line of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1 (the traced run also
writes its spans under the build directory). Tables and Spark scratch
files live in a per-run directory under the build directory and are
removed when the run ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (after the bytecode switch: the checkout stays clean)

WORKLOADS = ("geo", "retrieval")
CHILD_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(spec_file) as fh:
        spec = json.load(fh)
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    cp = build.build()
    work = os.path.join(build.out_dir(), "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # no hsperfdata file in the system temp directory: the run writes
    # only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        sys.exit(f"graftbench: {a.workload} did not finish within {CHILD_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if child.returncode != 0 or not lines:
        sys.exit(f"graftbench: {a.workload} exited with {child.returncode}")
    result = json.loads(lines[-1])
    if set(result["metrics"]) != want:
        sys.exit(f"graftbench: metrics {sorted(set(result['metrics']) ^ want)} "
                 "differ from BENCHMARK.json")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
