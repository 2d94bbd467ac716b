#!/usr/bin/env python3
"""Compare two Bench JSON lines (BENCH.out files or BENCH_r*.json with a
parsed line) and print per-query deltas, worst regressions first.

Usage: python3 tools/benchdiff.py OLD.json NEW.json [--threshold 1.2]

Given two perfbench reports (perfbench/work/report-*.json) instead, it
prints their named metrics side by side with the relative change, headed
by each run's workload, seed, trace flag, loadavg and calib_cpu_s, so a
matched-window before/after is one command:

    python3 tools/benchdiff.py before/report-search-s51-t1.json \
        after/report-search-s51-t1.json

Round-over-round per-query history was lost in r4/r5 because the
driver's stdout capture truncated the line; Bench now writes BENCH.out
whole, so from r6 on each round can diff against the previous round's
committed BENCH.out directly.
"""
import json
import sys


def load(path):
    with open(path) as f:
        text = f.read()
    # accept either a bare JSON line or a driver wrapper with "parsed"
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = json.loads(text.splitlines()[0])
    if isinstance(d, dict) and "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    return d


def is_report(d):
    """A perfbench report: named metrics plus host telemetry."""
    return isinstance(d, dict) and "named" in d and "host" in d


def report_diff(old, new):
    """Named metrics of two perfbench reports side by side."""
    for tag, d in (("old", old), ("new", new)):
        h = d.get("host", {})
        checks = d.get("checks", [])
        passed = sum(1 for c in checks if c.get("ok", c.get("passed")))
        print(f"{tag}: {d.get('workload')} seed={d.get('seed')} trace={d.get('trace')}  "
              f"loadavg {h.get('loadavg_start', '?')} -> {h.get('loadavg_end', '?')}  "
              f"calib_cpu_s {h.get('calib_cpu_s', '?')}  checks {passed}/{len(checks)}")
    on, nn = old.get("named", {}), new.get("named", {})
    names = list(on) + [k for k in nn if k not in on]
    width = max([len(k) for k in names] + [6])
    print(f"\n{'metric':{width}s} {'old':>14s} {'new':>14s} {'change':>8s}  unit")
    for k in names:
        o, n = on.get(k, {}).get("value"), nn.get(k, {}).get("value")
        unit = (on.get(k) or nn.get(k)).get("unit", "")
        cell = lambda v: f"{v:14.6g}" if isinstance(v, (int, float)) else f"{'-':>14s}"
        change = (f"{n / o - 1:+8.1%}" if isinstance(o, (int, float)) and
                  isinstance(n, (int, float)) and o != 0 else f"{'':>8s}")
        print(f"{k:{width}s} {cell(o)} {cell(n)} {change}  {unit}")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 1.2
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            thr = float(a.split("=", 1)[1]) if "=" in a else thr
    old, new = load(args[0]), load(args[1])
    if is_report(old) and is_report(new):
        report_diff(old, new)
        return
    oq, nq = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    print(f"old total {old.get('value', 0):.2f}s ({len(oq)} queries)  "
          f"new total {new.get('value', 0):.2f}s ({len(nq)} queries)")
    shared_old = sum(oq[k] for k in shared if oq[k] >= 0)
    shared_new = sum(nq[k] for k in shared if nq[k] >= 0)
    if shared_old:
        print(f"shared-{len(shared)} subset: {shared_old:.2f}s -> {shared_new:.2f}s "
              f"({shared_new / shared_old - 1:+.1%} vs old)")
    if added:
        print(f"added:   {', '.join(f'{k} ({nq[k]:.2f}s)' for k in added)}")
    if removed:
        print(f"removed: {', '.join(removed)}")
    regress = [(nq[k] / oq[k], k) for k in shared
               if oq[k] > 0.05 and nq[k] / oq[k] >= thr]
    if regress:
        print(f"\nregressions >= {thr:.1f}x (old>=0.05s):")
        for r, k in sorted(regress, reverse=True):
            print(f"  {k:28s} {oq[k]:6.2f}s -> {nq[k]:6.2f}s  ({r:.2f}x)")
    else:
        print(f"\nno per-query regressions >= {thr:.1f}x")
    improved = [(oq[k] / nq[k], k) for k in shared
                if nq[k] > 0.05 and oq[k] / nq[k] >= thr]
    if improved:
        print(f"improvements >= {thr:.1f}x:")
        for r, k in sorted(improved, reverse=True):
            print(f"  {k:28s} {oq[k]:6.2f}s -> {nq[k]:6.2f}s  ({r:.2f}x faster)")


if __name__ == "__main__":
    main()
