#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps, ignoring run-specific identifiers.

    python3 tools/plan_diff.py A B

Each dump is the stdout of `sbt "runMain graft.Explain [names...]"`. Lines
outside the `==== name ====` sections (sbt's own output) are dropped, and
before comparing, expression ids (`#123`), `plan_id=`/`id=` numbers,
`graft_scratch_*` temp paths, RDD ids (`MapPartitionsRDD[225]`), the
source `File.scala:line` of an RDD's call site, JVM lambda names
(`$Lambda$3524/0x...@669f2128`) and the checkout's `spark-warehouse`
directory are replaced with placeholders: they change from run to run,
from checkout to checkout, or when code moves, without the plan
changing. Both dumps
must explain the same names in the same order: an entry's plan shows an
`InMemoryRelation` where an earlier entry of the same run cached the same
subplan. Prints a unified diff and exits 1 on any difference, 0 otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^={16} (\S+) ={16}$")
SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b(plan_id|id)=\d+"), r"\1=N"),
    (re.compile(r"graft_scratch_[^/\s,\]\)]*"), "graft_scratch_X"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b\w+\.scala:\d+"), "SRC:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:WAREHOUSE/"),
]


def normalize(path):
    out, inside = [], False
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            if HEADER.match(line):
                inside = True
            elif not inside or line.startswith(("[info]", "[success]", "[warn]", "[error]")):
                continue
            for pat, rep in SUBS:
                line = pat.sub(rep, line)
            out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = normalize(argv[1]), normalize(argv[2])
    names = lambda lines: [m.group(1) for m in map(HEADER.match, lines) if m]
    if names(a) != names(b):
        print("the dumps explain different names or orders", file=sys.stderr)
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2], lineterm=""))
    print("\n".join(diff))
    sections = len(names(a))
    if diff or not sections:
        print(f"plan_diff: {'no sections' if not sections else 'plans differ'}", file=sys.stderr)
        return 1
    print(f"plan_diff: {sections} plans identical", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
