#!/usr/bin/env python3
"""Compare two ExplainAll plan dumps cell by cell.

Usage: python3 tools/plan_diff.py A_DIR B_DIR

Each dir holds one `<cell>.txt` per catalog cell, as written by
`runMain graft.tools.ExplainAll <outDir> [sfDir]`. Before comparing,
every line is masked for what legitimately differs between two runs of
the same plan: expression ids (`#n`), `plan_id=n`, the tmpdir prefix of
fixture paths (`.../graft_<tag>`), object hashes (`@1a2b3c`), lambda
class names (`Lambda$n/0x...`), RDD ids (`RDD[n]`), source line
numbers (`.scala:<line>`) and the session-global counter in generated
lambda variable names (`lambda x_n`).

Prints each differing cell with its first differing line, then a
summary. Exits 1 if any cell differs or exists on one side only.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"(file:)?/[^\s,\[\]()]*?/(graft_)"), r"<tmp>/\2"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@hash"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$n/0x..."),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"\.scala:\d+"), ".scala:<line>"),
    (re.compile(r"lambda x_\d+"), "lambda x_n"),
]


def masked(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        for pat, rep in MASKS:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def cells(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def first_diff(a, b):
    for i in range(max(len(a), len(b))):
        la = a[i] if i < len(a) else "<end of plan>"
        lb = b[i] if i < len(b) else "<end of plan>"
        if la != lb:
            return i + 1, la, lb
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_dir, b_dir = argv[1], argv[2]
    a, b = cells(a_dir), cells(b_dir)
    differing = 0
    for name in sorted(a | b):
        if name not in b or name not in a:
            side = a_dir if name in a else b_dir
            print(f"DIFF {name}: only in {side}")
            differing += 1
            continue
        d = first_diff(masked(os.path.join(a_dir, name + ".txt")),
                       masked(os.path.join(b_dir, name + ".txt")))
        if d:
            line, la, lb = d
            print(f"DIFF {name}: line {line}\n  A: {la.strip()}\n  B: {lb.strip()}")
            differing += 1
    total = len(a | b)
    print(f"{total - differing}/{total} cells identical, {differing} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
