#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories gate by gate.

Usage: python3 tools/plan_diff.py [-v] [--root PATH]... <before_dir> <after_dir>

PlanDump writes one `.explain("formatted")` file per gate. Two dumps of the
same plans still differ in run-local names, so each file is masked before
the compare:
  - expression ids (`#123`) and lambda-variable counters (`lambda x_57`);
  - exchange/subquery `plan_id=N`;
  - RDD numbers (`MapPartitionsRDD[57]`);
  - JVM lambda classes and object hashes (`$Lambda$4455/0x7fc4…@5d5b07e9`);
  - source positions (`GraftDataset.scala:254`);
  - numbered temp-dir names (`/tmp/graft_ivf_store1773…`) and UUIDs;
  - the checkout paths given with --root (the repo this tool lives in is
    always masked).

Prints one line per gate whose masked plans differ (and per gate present
on one side only); -v adds a unified diff of each. Exits 1 when any gate
differs, 0 when the dumps match. Run both PlanDumps with the same
SPARK_GRAFT_CPUS: the shuffle partition count is part of the plan.

One gate is not stable across full runs: q47_approx_distinct's Expand
group order (its Expand projections, HashAggregate keys and FILTER gids)
follows the run's expression ids, so it moves whenever an earlier gate's
plan gains or loses an expression. When q47 is the only gate a full-run
diff flags, re-dump q47 alone on both sides (`PlanDump <sfDir> <outDir>
q47_approx_distinct`) and read that diff instead.
"""
import argparse
import difflib
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda$N/0xN"),
    (re.compile(r"@[0-9a-f]{4,16}\b"), "@H"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
]
TMP_PATH = re.compile(r"/tmp/[^\s,\]\[)(]*")
TMP_NUM = re.compile(r"\d{5,}")


def mask(text: str, roots) -> str:
    for root in roots:
        text = text.replace(root, "<ROOT>")
    text = TMP_PATH.sub(lambda m: TMP_NUM.sub("N", m.group(0)), text)
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("before_dir")
    p.add_argument("after_dir")
    p.add_argument("--root", action="append", default=[],
                   help="a checkout path to mask (repeatable)")
    p.add_argument("-v", "--verbose", action="store_true",
                   help="print a unified diff for each differing gate")
    args = p.parse_args(argv)
    # longest first, so a root nested in another is not half-masked
    roots = sorted({str(REPO), *args.root}, key=len, reverse=True)
    before = {f.stem: f for f in pathlib.Path(args.before_dir).glob("*.txt")}
    after = {f.stem: f for f in pathlib.Path(args.after_dir).glob("*.txt")}
    same = differ = 0
    for gate in sorted(before.keys() | after.keys()):
        if gate not in after or gate not in before:
            side = "before" if gate in before else "after"
            print(f"{gate}: only in {side}")
            differ += 1
            continue
        a = mask(before[gate].read_text(), roots).splitlines()
        b = mask(after[gate].read_text(), roots).splitlines()
        if a == b:
            same += 1
            continue
        differ += 1
        print(f"{gate}: plans differ")
        if args.verbose:
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                a, b, f"before/{gate}", f"after/{gate}", lineterm="", n=1))
    print(f"{same} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
