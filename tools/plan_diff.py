#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage:
    python3 tools/plan_diff.py A.txt B.txt [--show N]

Each dump is the stdout of `sbt "runMain graft.Explain <sfDir>"`: one
`===== <query> =====` header per query, followed by its formatted
physical plan. Before comparing, every query's plan is normalized so
that only plan shape and expressions remain:

- `#N` expression ids, `[plan_id=N]` exchange ids and `RDD[N]` ids
  (the `ExistingRDD` scans of pinned frames) are renumbered in order of
  first appearance within the query;
- an RDD's creation call site (`at localCheckpoint at Foo.scala:42`)
  keeps the operation and drops the file and line, which move whenever
  the source is edited;
- per-invocation temp directories (`/tmp/graft_<prefix><digits>`) lose
  their random suffix, and JVM object identities (`Foo@1b2c3d`,
  `$Lambda$123/0x...`) lose theirs.

Prints a JSON summary (query counts, queries present on one side only,
queries whose normalized plans differ) and exits 1 when any query
differs or is missing from one side. `--show N` also prints the first N
differing lines of each differing query to stderr.
"""
import argparse
import difflib
import json
import re
import sys

# a formatted plan prints its own "===== Subqueries =====" block
HEADER = re.compile(r"^===== (?!Subqueries =====)(\S+) =====$")
SBT_NOISE = re.compile(r"^\[(info|warn|error|success)\] ")
CALL_SITE = re.compile(r"(RDD\[\d+\] at \w+) at [\w$.]+\.(?:scala|java):\d+")
TEMP_DIR = re.compile(r"(/graft_[A-Za-z_]*?)\d{6,}")
LAMBDA = re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+")
IDENTITY = re.compile(r"@[0-9a-f]{1,8}\b")
IDS = [
    (re.compile(r"#(\d+)"), "#{}"),
    (re.compile(r"\[plan_id=(\d+)\]"), "[plan_id={}]"),
    (re.compile(r"RDD\[(\d+)\]"), "RDD[{}]"),
]


def split(path):
    """{query: [plan lines]} in dump order."""
    plans, current = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                current = m.group(1)
                plans[current] = []
            elif current is not None and not SBT_NOISE.match(line):
                plans[current].append(line)
    return plans


def normalize(lines):
    text = "\n".join(lines).strip("\n")
    text = CALL_SITE.sub(r"\1", text)
    text = TEMP_DIR.sub(r"\1", text)
    text = LAMBDA.sub("$Lambda", text)
    text = IDENTITY.sub("@", text)
    for pattern, template in IDS:
        seen = {}

        def renumber(m, seen=seen, template=template):
            return template.format(seen.setdefault(m.group(1), len(seen)))

        text = pattern.sub(renumber, text)
    return text.split("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--show", type=int, default=0,
                    help="print this many differing lines per query")
    args = ap.parse_args()
    a, b = split(args.a), split(args.b)
    differ = []
    for q in a:
        if q not in b:
            continue
        na, nb = normalize(a[q]), normalize(b[q])
        if na != nb:
            differ.append(q)
            if args.show:
                diff = [l for l in difflib.unified_diff(na, nb, lineterm="",
                                                        n=0)
                        if l[:1] in "+-" and l[:3] not in ("+++", "---")]
                print(f"--- {q}", file=sys.stderr)
                for line in diff[:args.show]:
                    print(line, file=sys.stderr)
    summary = {
        "queries_a": len(a),
        "queries_b": len(b),
        "only_a": sorted(set(a) - set(b)),
        "only_b": sorted(set(b) - set(a)),
        "differ": differ,
        "same": sum(1 for q in a if q in b) - len(differ),
    }
    print(json.dumps(summary, indent=1))
    sys.exit(1 if differ or summary["only_a"] or summary["only_b"] else 0)


if __name__ == "__main__":
    main()
