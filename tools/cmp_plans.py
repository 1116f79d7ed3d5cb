#!/usr/bin/env python3
"""Differential compare of two graft.Explain outputs (A/B builds).

Usage: tools/cmp_plans.py <explainA.txt> <explainB.txt>

Splits each file into per-query sections at the `========== <name>
==========` headers graft.Explain prints, then blanks what differs between
two runs of the same plan:
  - expression ids (`#123`, `#123L`);
  - plan ids (`plan_id=45`) and RDD ids (`MapPartitionsRDD[37]`);
  - source line numbers in RDD call sites (`at Similarity.scala:330`);
  - numbered lambda variables (`lambda x_103`), drawn from a JVM-wide
    counter;
  - JVM identity hashes of array literals (`[J@7fec354`, `[[D@1828eff`);
  - Spark application ids in per-run paths (`..._local-1792251267908`).
Prints OK/DIFF per query (a unified diff of the normalized text for each
DIFF) and exits 1 on any difference, or on a query present in only one file.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
BLANKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\.scala):\d+"), r"\1:"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_"),
    (re.compile(r"(\[+[A-Z])@[0-9a-f]+"), r"\1@"),
    (re.compile(r"local-\d+"), "local-"),
]


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                for rx, rep in BLANKS:
                    line = rx.sub(rep, line)
                out[name].append(line)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sections(sys.argv[1]), sections(sys.argv[2])
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name}: MISSING ({'A' if name not in a else 'B'})")
            bad += 1
        elif a[name] == b[name]:
            print(f"{name}: OK")
        else:
            print(f"{name}: DIFF")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[name], b[name], "A", "B", lineterm="", n=2))
            bad += 1
    sys.exit(1 if bad else 0)


main()
