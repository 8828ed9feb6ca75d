#!/usr/bin/env python3
"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds full records, one JSON object a line, as run.py appends
them to perfbench/out/history.jsonl (perfbench/baseline.jsonl is the
committed one). For every workload in both files it prints the median of
each end-to-end metric over the untraced runs, the relative change, each
side's quartile spread (IQR / median), and the median host steal of each
side. Records taken at different core
counts are never compared: the script refuses and exits 2.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def spread(values):
    """Distance between the quartiles, as a share of the median."""
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def by_workload(recs):
    out = {}
    for r in recs:
        if not r["trace"]:
            out.setdefault(r["workload"], []).append(r)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (by_workload(load(p)) for p in sys.argv[1:])
    cores = {r["conditions"]["nproc"] for rs in list(base.values()) + list(new.values())
             for r in rs}
    if len(cores) > 1:
        print(f"refusing to compare results taken at different core counts: "
              f"{sorted(cores)}", file=sys.stderr)
        sys.exit(2)
    for w in sorted(set(base) & set(new)):
        b, n = base[w], new[w]
        steal = [statistics.median(r["conditions"]["run_steal_pct"] for r in rs)
                 for rs in (b, n)]
        print(f"{w}: {len(b)} vs {len(n)} runs, steal {steal[0]:.1f}% vs {steal[1]:.1f}%")
        for m in sorted(b[0]["e2e"]):
            vb = [r["e2e"][m]["value"] for r in b]
            vn = [r["e2e"][m]["value"] for r in n]
            mb, mn = statistics.median(vb), statistics.median(vn)
            unit = b[0]["e2e"][m]["unit"]
            print(f"  {m:<14} {mb:12.6g} -> {mn:12.6g} {unit:<6} "
                  f"{100.0 * (mn - mb) / mb:+7.1f}%   "
                  f"spread {spread(vb):.3f} vs {spread(vn):.3f}")


if __name__ == "__main__":
    main()
