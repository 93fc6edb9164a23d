#!/usr/bin/env python3
"""Compare two sets of benchmark results layer by layer.

    python3 perfbench/diff.py BEFORE.jsonl AFTER.jsonl

Each file holds the lines `run.py --record FILE` appends, one per run. For
each workload this prints every metric's median and quartiles on both sides,
the p90 cell wall pooled over all runs (a run alone has too few samples for
it), then every per-cell and per-probe count that differs. A change in an
end-to-end number can then be placed in the layer whose work changed.
"""
import json
import statistics
import sys
from collections import Counter, defaultdict

# Fields that count work; the timing fields beside them are not compared.
COUNTS = ("jobs", "stages", "tasks", "sql_execs", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_records",
          "output_bytes", "output_records")


def load(path):
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[r["detail"]["workload"]].append(r)
    return runs


def summary(values):
    if not values:
        return "-"
    med = statistics.median(values)
    if len(values) < 2:
        return f"{med:.6g}"
    q1, _, q3 = statistics.quantiles(values, n=4)
    return f"{med:.6g} [{q1:.6g}, {q3:.6g}]"


def metric_values(runs):
    vals = defaultdict(list)
    for r in runs:
        for k, m in r["metrics"].items():
            vals[k].append(m["value"])
    return vals


def pooled_p90(runs):
    """p90 cell wall over every timed sample of the untraced runs."""
    walls = sorted(w for r in runs if not r["detail"]["trace"]
                   for c in r["detail"]["cells"].values() for w in c["wall_s"])
    if len(walls) < 100:
        return f"{len(walls)} samples, too few"
    return f"{statistics.quantiles(walls, n=10)[-1]:.6g} ({len(walls)} samples)"


def usual_counts(runs, section):
    """Most common value of every count, per cell or probe, over the runs."""
    seen = defaultdict(Counter)
    for r in runs:
        for name, d in r["detail"].get(section, {}).items():
            for k in COUNTS:
                if k in d["counts"]:
                    seen[(name, k)][d["counts"][k]] += 1
    return {key: c.most_common(1)[0][0] for key, c in seen.items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(a) | set(b)):
        ra, rb = a.get(w, []), b.get(w, [])
        print(f"== {w}: {len(ra)} runs before, {len(rb)} after")
        va, vb = metric_values(ra), metric_values(rb)
        for k in list(dict.fromkeys(list(va) + list(vb))):
            ma, mb = va.get(k, []), vb.get(k, [])
            change = ""
            if ma and mb and statistics.median(ma):
                change = f"{statistics.median(mb) / statistics.median(ma) - 1:+.1%}"
            print(f"  {k:42s} {summary(ma):>36s}  {summary(mb):>36s}  {change}")
        print(f"  {'pooled cell_p90_s':42s} {pooled_p90(ra):>36s}  {pooled_p90(rb):>36s}")
        for section in ("cells", "layers"):
            ca, cb = usual_counts(ra, section), usual_counts(rb, section)
            diffs = [(key, ca.get(key), cb.get(key)) for key in sorted(set(ca) | set(cb))
                     if ca.get(key) != cb.get(key)]
            print(f"  -- {section}: {len(diffs)} counts differ")
            for (name, k), x, y in diffs:
                print(f"     {name} {k}: {x} -> {y}")


if __name__ == "__main__":
    main()
