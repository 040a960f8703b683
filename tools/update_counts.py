#!/usr/bin/env python3
"""Regenerate the scoreboard counts in COVERAGE.md / README.md.

Counts come from the code itself:
  - gates / oracles: `graft.Counts` (the SparkEntry maps — authoritative)
  - ScalaTests: `test(` occurrences in every spec under src/test
    (recursive: specs live in sub-packages too, e.g. llm/)

Injects a markdown table between `<!-- counts:begin -->` and
`<!-- counts:end -->` markers in each target file. Run after adding a
gate or a spec:  python3 tools/update_counts.py
"""
import json
import pathlib
import re
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def scala_counts() -> dict:
    cp = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
    out = subprocess.run(
        ["java", "-cp", cp, "graft.Counts"],
        capture_output=True, text=True, check=True).stdout.strip()
    return json.loads(out.splitlines()[-1])


def test_count() -> int:
    n = 0
    for f in (REPO / "src/test/scala/graft").rglob("*.scala"):
        n += len(re.findall(r'^\s*(?:test|property)\(', f.read_text(), re.M))
    return n


def inject(path: pathlib.Path, table: str) -> bool:
    text = path.read_text()
    begin, end = "<!-- counts:begin -->", "<!-- counts:end -->"
    if begin not in text or end not in text:
        return False
    pre, rest = text.split(begin, 1)
    _, post = rest.split(end, 1)
    path.write_text(pre + begin + "\n" + table + "\n" + end + post)
    return True


def main() -> int:
    c = scala_counts()
    tests = test_count()
    missing = c["gates_without_oracle"]
    oracle_note = "every gate" if not missing else f"missing: {missing}"
    table = (
        "| metric | count | source |\n"
        "|---|---|---|\n"
        f"| gate queries (`SparkEntry.queries`) | {c['gates']} | `graft.Counts` |\n"
        f"| full DuckDB oracles (`SparkEntry.oracleSql`) | {c['oracles']} ({oracle_note}) | `graft.Counts` |\n"
        f"| ScalaTests | {tests} | `grep test( src/test` |\n"
        "\n"
        "_Generated by `tools/update_counts.py` — edit nothing between the_\n"
        "_markers by hand._"
    )
    changed = [str(p) for p in (REPO / "COVERAGE.md", REPO / "README.md")
               if p.exists() and inject(p, table)]
    print(f"gates={c['gates']} oracles={c['oracles']} tests={tests} "
          f"updated={changed}")
    if missing:
        print(f"WARNING: gates without oracle: {missing}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
