#!/usr/bin/env python3
"""Compare perfbench runs saved with `run.py --out FILE`.

    python3 perfbench/compare.py A1.json A2.json ...              # one set
    python3 perfbench/compare.py A1.json ... -- B1.json ...       # A/B

For every metric: the run count, the median, the quartiles
(`statistics.quantiles(n=4)`) and the quartile spread as a share of the
median; with two sets also the change of B's median against A's.

Runs are only compared on identical inputs: all files must be of one
workload and trace mode, and runs with the same seed must carry the same
input hashes. The suite corpus does not depend on the seed, so its hash
must also be the same across seeds. Exit code 2 when that does not hold.
"""
import json
import statistics
import sys


def load(paths):
    return [json.load(open(p)) for p in paths]


def refuse(msg):
    print(f"compare: refused: {msg}", file=sys.stderr)
    sys.exit(2)


def check_inputs(runs):
    kinds = {(r["workload"], r["trace"]) for r in runs}
    if len(kinds) != 1:
        refuse(f"mixed workloads or trace modes {sorted(kinds)}")
    by_seed = {}
    for r in runs:
        h = json.dumps(r["inputs"], sort_keys=True)
        if by_seed.setdefault(r["seed"], h) != h:
            refuse(f"seed {r['seed']}: input hashes differ between runs")
    if runs[0]["workload"].startswith("suite") and len(set(by_seed.values())) != 1:
        refuse("suite corpus hashes differ between runs")


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main(argv):
    if "--" in argv:
        i = argv.index("--")
        sets = [load(argv[:i]), load(argv[i + 1:])]
    else:
        sets = [load(argv)]
    if not all(sets):
        refuse("no runs given")
    check_inputs([r for s in sets for r in s])
    names = list(sets[0][0]["metrics"])
    print(f"{sets[0][0]['workload']} trace={sets[0][0]['trace']} "
          f"runs={'/'.join(str(len(s)) for s in sets)}")
    for name in names:
        cols = []
        meds = []
        for s in sets:
            med, q1, q3, spread = stats([r["metrics"][name] for r in s])
            meds.append(med)
            cols.append(f"median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")
        delta = f"  change {meds[1] / meds[0] - 1:+.3f}" if len(meds) == 2 and meds[0] else ""
        print(f"  {name:28s} " + " | ".join(cols) + delta)


if __name__ == "__main__":
    main(sys.argv[1:])
