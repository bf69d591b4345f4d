#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/diff.py BEFORE_DIR AFTER_DIR

Each directory holds result files as run.py leaves them in
.perfbench_work/results (<workload>-s<seed>-t<trace>-<time>.json, plus
.spans.jsonl for traced runs). For every workload and end-to-end metric
it prints each side's median and quartiles over its untraced runs and
the change of the median. For each analytics gate it labels the change:

  plan changed            the normalised executedPlan fingerprint differs
  noise                   the medians differ by no more than the larger
                          quartile spread of the two sides (or under 5%)
  more task time          same plan; summed executor run time grew most
  more driver time        same plan; time outside Spark jobs grew most

Plans and task/driver times come from traced runs; gate times from
untraced runs.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def load(d):
    runs = defaultdict(list)    # workload -> untraced results
    spans = defaultdict(list)   # workload -> traced span lists
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            sf = f[:-5] + ".spans.jsonl"
            if os.path.exists(sf):
                with open(sf) as fh:
                    spans[r["workload"]].append([json.loads(l) for l in fh])
        else:
            runs[r["workload"]].append(r)
    return runs, spans


def gate_traces(span_sets):
    """gate -> (set of plan fingerprints, [task ms], [driver ms])."""
    out = defaultdict(lambda: (set(), [], []))
    for spans in span_sets:
        for s in spans:
            if s["kind"] != "gate":
                continue
            plans, task, drv = out[s["name"]]
            if s.get("plan"):
                plans.add(s["plan"])
            task.append(s["attrs"].get("spark.executor_run_ms", 0.0))
            drv.append(s["attrs"].get("driver.off_job_ms", 0.0))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (ra, sa), (rb, sb) = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(ra) | set(rb)):
        print(f"== {w}: {len(ra[w])} vs {len(rb[w])} untraced runs")
        names = sorted({k for r in ra[w] + rb[w] for k in r["e2e"]})
        for k in names:
            xa = [r["e2e"][k] for r in ra[w] if k in r["e2e"]]
            xb = [r["e2e"][k] for r in rb[w] if k in r["e2e"]]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            delta = (qb[1] / qa[1] - 1) * 100 if qa[1] else float("nan")
            print(f"  {k:22s} {qa[1]:12.3f} [{qa[0]:.3f}, {qa[2]:.3f}]"
                  f"  ->  {qb[1]:12.3f} [{qb[0]:.3f}, {qb[2]:.3f}]  {delta:+7.1f}%")
        if w != "analytics":
            continue
        ta, tb = gate_traces(sa[w]), gate_traces(sb[w])
        gates = sorted({g for r in ra[w] + rb[w] for g in r["extra"].get("gate_ms", {})})
        print("  gate                        before ms    after ms   change  label")
        for g in gates:
            xa = [r["extra"]["gate_ms"][g] for r in ra[w] if g in r["extra"].get("gate_ms", {})]
            xb = [r["extra"]["gate_ms"][g] for r in rb[w] if g in r["extra"].get("gate_ms", {})]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            spread = max(qa[2] - qa[0], qb[2] - qb[0], 0.05 * qa[1])
            pa, pb = ta[g][0], tb[g][0]
            if pa and pb and pa != pb:
                label = "plan changed"
            elif abs(qb[1] - qa[1]) <= spread:
                label = "noise"
            elif not (ta[g][1] and tb[g][1]):
                label = "no traced runs to attribute"
            else:
                d_task = statistics.median(tb[g][1]) - statistics.median(ta[g][1])
                d_drv = statistics.median(tb[g][2]) - statistics.median(ta[g][2])
                label = "same plan, more task time" if d_task >= d_drv else "same plan, more driver time"
            print(f"  {g:26s} {qa[1]:10.1f} {qb[1]:11.1f} {(qb[1] / qa[1] - 1) * 100:+7.1f}%  {label}")


if __name__ == "__main__":
    main()
