#!/usr/bin/env python3
"""Build and run the benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the
library and the benchmark (see build.py) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. Everything the run writes (classes, Spark scratch space, span
files) stays under that directory.

The last line of standard output is the result object of the run. A run
that cannot build, fails, or overruns exits non-zero without printing one.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # the checkout stays as it was, apart from the build directory
from build import ROOT, build, build_tests, fail  # noqa: E402

# the workloads of BENCHMARK.json, then the one run only on request
WORKLOADS = ["fcst_many_short", "curate_pairs"]
EXTRA_WORKLOADS = ["fcst_long_auto"]
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(bdir, classpath, main, extra_props, args):
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    props = [f"-D{k}={v}" for k, v in extra_props.items()]
    # a fixed-size heap and the throughput collector: with G1 and a growing
    # heap, GC time dominated the short ops and varied run to run
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"] + opens + props +
            ["-cp", ":".join(classpath), main] + args)


def run_child(cmd, timeout):
    """Run `cmd`, relaying its output; returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []

    def relay():
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            print(line, end="", flush=True)

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reader.join(5)
        print(f"perfbench: run exceeded {timeout}s and was stopped", file=sys.stderr)
        return 124, lines
    reader.join()
    return proc.returncode, lines


def run_workload(workload, seed, seconds, trace, built):
    bdir, classes, jar_dir, _, sig = built
    out = os.path.join(bdir, "out")
    cp = classes + [os.path.join(ROOT, "src", "main", "resources"), os.path.join(jar_dir, "*")]
    cmd = java_cmd(bdir, cp, "perfbench.Main",
                   {"perfbench.source": sig, "perfbench.commit": git_commit()},
                   ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", str(trace), "--out", out])
    code, lines = run_child(cmd, RUN_TIMEOUT_S)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: {workload} produced no result (exit {code})", file=sys.stderr)
        return None
    return result


def self_test(built):
    bdir, classes, jar_dir, _, _ = built
    tests = build_tests(built)
    cp = [tests] + classes + [os.path.join(ROOT, "src", "main", "resources"), os.path.join(jar_dir, "*")]
    spec = os.path.join(ROOT, "BENCHMARK.json")
    args = [spec] if os.path.exists(spec) else []
    code, _ = run_child(java_cmd(bdir, cp, "perfbench.SelfTest", {}, args), RUN_TIMEOUT_S)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + EXTRA_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    built = build()
    if a.self_test:
        sys.exit(self_test(built))
    if not a.workload:
        fail("--workload is required")
    if a.workload != "all":
        result = run_workload(a.workload, a.seed, a.seconds, a.trace, built)
        sys.exit(0 if result is not None else 1)
    results = {}
    for w in WORKLOADS:
        results[w] = run_workload(w, a.seed, a.seconds, a.trace, built)
    print("\n%-16s %-36s %16s  %s" % ("workload", "metric", "value", "unit"))
    for w, r in results.items():
        if r is None:
            print("%-16s %-36s %16s" % (w, "(no result)", "-"))
            continue
        print("%-16s %-36s %16s" % (w, "correct", r["correct"]))
        for k, m in r["metrics"].items():
            print("%-16s %-36s %16.6g  %s" % (w, k, m["value"], m["unit"]))
    ok = all(r is not None and r["correct"] for r in results.values())
    print(json.dumps(results, separators=(",", ":")))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
