#!/usr/bin/env python3
"""Compare two sets of perfbench results files, workload by workload.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- HEAD_DIR_OR_FILES...

Each side is a list of results files (or directories holding them) written
by run.py. For every workload and end-to-end metric the script prints each
side's median and quartiles and the change against the base median, judged
against the metric's bound in BENCHMARK.json. It refuses (exit 2) to compare
results taken on different host shapes (nproc, local[N], driver -Xmx): a
median from a 4-core host is not a baseline for a 32-core one.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(args):
    files = []
    for a in args:
        files += sorted(glob.glob(os.path.join(a, "*.json"))) if os.path.isdir(a) else [a]
    return [json.load(open(f)) for f in files]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    base, head = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not head:
        sys.exit("both sides need at least one results file")
    shapes = {json.dumps(r["host_shape"], sort_keys=True) for r in base + head}
    if len(shapes) > 1:
        print("refusing to compare results from different host shapes:",
              file=sys.stderr)
        for s in sorted(shapes):
            print("  " + s, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    print(f"host shape {shapes.pop()}")
    workloads = sorted({r["workload"] for r in base + head if r["trace"] == 0})
    for w in workloads:
        b = [r for r in base if r["workload"] == w and r["trace"] == 0]
        h = [r for r in head if r["workload"] == w and r["trace"] == 0]
        if not b or not h:
            print(f"{w}: missing on one side ({len(b)} base, {len(h)} head)")
            continue
        for m in metrics:
            n = m["name"]
            bq = quartiles([r["end_to_end"][n] for r in b])
            hq = quartiles([r["end_to_end"][n] for r in h])
            change = hq[1] / bq[1] - 1.0
            worse = change > m["bound"] if m["better"] == "lower" \
                else -change > m["bound"]
            print(f"{w:18s} {n:15s} base {bq[1]:12.4f} [{bq[0]:.4f}, {bq[2]:.4f}] "
                  f"n={len(b)}  head {hq[1]:12.4f} [{hq[0]:.4f}, {hq[2]:.4f}] "
                  f"n={len(h)}  {change:+.1%}{'  WORSE than bound' if worse else ''}")


if __name__ == "__main__":
    main(sys.argv[1:])
