#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts workload by workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds artifacts written by `run.py --save`. Runs pair by
(workload, trace, seed); both sides must hold the same seeds and the same
recorded session conf, or the comparison is refused. For every metric the
tool prints each side's median and quartiles. For the end-to-end metrics
it then applies the benchmark's rules:

  gain        the new side wins >= 9/10 of the pairs (ties count for
              neither), the medians differ by more than the base's
              quartile spread, and the new side fails no more ops than
              the base (otherwise the verdict is "same");
  regression  the new median is worse than the base median by more than
              the metric's bound in BENCHMARK.json;
  unresolved  the base's quartile spread exceeds the bound and not every
              new run beats every base run;
  same        otherwise.

Per-layer metrics carry no direction or bound: they are shown with the
relative change of the medians only. Exits 1 when any end-to-end metric
regresses, 2 when the comparison is refused.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            a = json.load(fh)
        if "result" in a and "workload" in a:
            runs[(a["workload"], a["trace"], a["seed"])] = a
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, better, bound):
    sign = 1 if better == "higher" else -1
    b1, bm, b3 = quartiles(base)
    _, nm, _ = quartiles(new)
    wins = sum(1 for x, y in zip(base, new) if sign * (y - x) > 0)
    spread = b3 - b1
    worse = sign * (bm - nm) / abs(bm) if bm else 0.0
    if wins >= 0.9 * len(base) and abs(nm - bm) > spread:
        return "gain", wins
    if worse > bound:
        return "regression", wins
    if bm and spread / abs(bm) > bound and not (
            min(new) > max(base) if sign > 0 else max(new) < min(base)):
        return "unresolved", wins
    return "same", wins


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    if set(base) != set(new):
        print("refused: the two sides hold different (workload, trace, "
              f"seed) runs: {sorted(set(base) ^ set(new))}", file=sys.stderr)
        sys.exit(2)
    for k in base:
        for field in ("conf", "seconds"):
            if base[k][field] != new[k][field]:
                print(f"refused: {field} differs for {k}: "
                      f"{base[k][field]} vs {new[k][field]}", file=sys.stderr)
                sys.exit(2)
    regressed = False
    for wl, tr in sorted({(w, t) for w, t, _ in base}):
        seeds = sorted(s for w, t, s in base if (w, t) == (wl, tr))
        print(f"\n== {wl} ({'traced' if tr else 'untraced'}, "
              f"{len(seeds)} pairs)")
        names = base[(wl, tr, seeds[0])]["result"]["metrics"]
        failed = [sum(side[(wl, tr, s)]["result"]["failed"] for s in seeds)
                  for side in (base, new)]
        print(f"failed ops: base {failed[0]}, new {failed[1]}")
        for m in names:
            xs = [base[(wl, tr, s)]["result"]["metrics"][m]["value"]
                  for s in seeds]
            ys = [new[(wl, tr, s)]["result"]["metrics"][m]["value"]
                  for s in seeds]
            b1, bm, b3 = quartiles(xs)
            n1, nm, n3 = quartiles(ys)
            line = (f"{m:40s} base {bm:12.4g} [{b1:.4g}, {b3:.4g}]  "
                    f"new {nm:12.4g} [{n1:.4g}, {n3:.4g}]")
            if m in spec:
                v, wins = verdict(xs, ys, spec[m]["better"], spec[m]["bound"])
                if v == "gain" and failed[1] > failed[0]:
                    v = "same (more failed ops)"
                regressed |= v == "regression"
                line += f"  wins {wins}/{len(seeds)}  {v}"
            elif bm:
                line += f"  {100 * (nm - bm) / abs(bm):+.1f}%"
            print(line)
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
