#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py

Runs the Scala tests of the benchmark's pure parts (generator determinism,
the tail-percentile rule, union-of-intervals driver time), then one short
benchmark run with a deliberately wrong expected value, which must come back
with `correct: false` and at least one failed operation.
"""
import contextlib
import io
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def planted_wrong_value_fails():
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", "interactive", "--seed", "1", "--seconds", "1", "--trace", "0",
                         "--plant-wrong-expected"])
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert code == 0, f"run exited {code}"
    assert result["correct"] is False, result
    assert result["failed"] >= 1, result
    print(f"ok   a planted wrong expected value fails the run "
          f"({result['failed']}/{result['attempted']} operations failed)")


def main():
    try:
        cp = build.build(test=True)
    except build.BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        return 2
    code = subprocess.run(build.java_cmd(cp, "perfbench.SelfTest", [])).returncode
    if code != 0:
        return code
    planted_wrong_value_fails()
    return 0


if __name__ == "__main__":
    sys.exit(main())
