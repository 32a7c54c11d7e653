#!/usr/bin/env python3
"""Summarise a set of benchmark records (the --out files of run.py).

    python3 perfbench/summarize.py DIR [DIR ...]

For each workload: per end-to-end metric the median, quartiles and their
spread as a share of the median (statistics.quantiles(values, n=4)), then the
cores, JVM, steal and warm-up walls of the runs, one line per record. With
two directories it also gives each metric's second median against the first.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    recs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        recs.setdefault(r["workload"], []).append(r)
    for rs in recs.values():
        rs.sort(key=lambda r: r["seed"])
    return recs


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(dirs):
    sets = [load(d) for d in dirs]
    for w in sorted(sets[0]):
        recs = sets[0][w]
        print(f"### {w} ({len(recs)} runs, {dirs[0]})\n")
        print("| metric | median | q1 | q3 | (q3-q1)/median |"
              + (" 2nd median / 1st |" if len(sets) > 1 else ""))
        print("|---|---|---|---|---|" + ("---|" if len(sets) > 1 else ""))
        for m in sorted(recs[0]["metrics"]):
            med, q1, q3, s = spread([r["metrics"][m]["value"] for r in recs])
            row = f"| {m} | {med:.4g} | {q1:.4g} | {q3:.4g} | {s:.3f} |"
            if len(sets) > 1 and w in sets[1]:
                med2 = statistics.median(r["metrics"][m]["value"] for r in sets[1][w])
                row += f" {med2 / med:.3f} |"
            print(row)
        print("\n| seed | cores | jvm | failed/attempted | steal s (timed) "
              "| warm-up walls s | timed walls s |")
        print("|---|---|---|---|---|---|---|")
        for r in recs:
            timed = [x for x in r["runs"] if x["kind"] == "timed"]
            print(f"| {r['seed']} | {r['cores']} | {r['jvm']} | {r['failed']}/{r['attempted']} "
                  f"| {sum(x['steal_s'] for x in timed):.2f} "
                  f"| {' '.join('%.2f' % x for x in r['warmup_walls_s'])} "
                  f"| {' '.join('%.2f' % x['wall_s'] for x in timed)} |")
        print()


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
