#!/usr/bin/env python3
"""Merge warm-round observations into the committed output reference.

    python3 perfbench/run.py --workload W --seed 1 --seconds 1 --trace 0 --observe a.json
    python3 perfbench/run.py --workload W --seed 2 --seconds 1 --trace 0 --cores 2 --observe b.json
    python3 perfbench/reference.py perfbench/reference.json a.json b.json [...]

Each observation maps a cell to its row count and content hash. Cells already
in the reference file are kept unless an observation names them again. A cell
whose hash differs between observations is checked on row count only; it is
listed under "rows_only". Differing row counts are an error.
"""
import json
import sys


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out, paths = sys.argv[1], sys.argv[2:]
    try:
        with open(out) as f:
            cells = json.load(f)["cells"]
    except FileNotFoundError:
        cells = {}
    seen = {}
    for p in paths:
        with open(p) as f:
            for cell, obs in json.load(f)["cells"].items():
                seen.setdefault(cell, []).append(obs)
    for cell, obs in seen.items():
        rows = {o["rows"] for o in obs}
        if len(rows) != 1:
            sys.exit(f"{cell}: row counts differ between observations: {sorted(rows)}")
        hashes = {o["hash"] for o in obs}
        cells[cell] = {"rows": rows.pop(), "hash": hashes.pop() if len(hashes) == 1 else None}
    rows_only = sorted(c for c, v in cells.items() if v["hash"] is None)
    with open(out, "w") as f:
        json.dump({"rows_only": rows_only, "cells": dict(sorted(cells.items()))}, f, indent=1)
        f.write("\n")
    print(f"{len(cells)} cells, rows only: {', '.join(rows_only) or 'none'}")


if __name__ == "__main__":
    main()
