#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <interactive|batch> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds the library and the benchmark from source
(see build.py), then runs one JVM that generates the workload's inputs from
the seed, measures for the given number of seconds, checks every output and
prints, as its last stdout line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics; with `--trace 1` they are the per-layer metrics of a
traced run, whose spans are written under `.bench_build/trace/`.

Exits non-zero, without a result line, when the build or the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("interactive", "batch")
RUN_TIMEOUT_S = 170


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", default=0, type=int, choices=(0, 1))
    # Perturbs one expected value, so that the run must report a failure;
    # the benchmark's tests use it to prove the checks bite.
    p.add_argument("--plant-wrong-expected", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def run_jvm(cmd, timeout_s):
    """Run the JVM in its own process group, relay stdout, return (code, last line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    last = None

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    signal.signal(signal.SIGALRM, kill)
    signal.alarm(timeout_s)
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and '"correct"' in line:
                last = line  # held back: it must be the last line printed
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        signal.alarm(0)
        kill()
        proc.wait()
        signal.signal(signal.SIGTERM, old)
    return code, last


def main(argv):
    args = parse_args(argv)
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--build-dir", os.path.abspath(build.BUILD_DIR)]
    if args.plant_wrong_expected:
        jvm_args.append("--plant-wrong-expected")
    code, result = run_jvm(build.java_cmd(cp, "perfbench.Main", jvm_args), RUN_TIMEOUT_S)
    if code != 0 or result is None:
        sys.stderr.write(f"perfbench: run failed (exit {code})\n")
        return code or 1
    json.loads(result)  # a malformed result line is a failed run
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
