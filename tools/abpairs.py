#!/usr/bin/env python3
"""Runs alternating parent/change pairs of one perfbench workload and
judges the end-to-end metrics.

Usage:

    python3 tools/abpairs.py --parent ../parent --change . \\
        --workload ingest --seeds 21-30 [--seconds 5] [--trace 0] \\
        [--named ingest_capacity_docs_per_s,streaming.getBatch_s_p50] \\
        [--out pairs.jsonl]

For every seed it runs `perfbench/run.py` in both checkouts (each builds
its own engine from its own sources). An even seed runs the parent
first, an odd seed the change first, so a drift in host load over the
window falls on both sides. Each run is printed as one JSON line (side,
seed, position in the pair, 1-min loadavg at its start, exit code,
result line), and appended to --out when given.

Then, per end-to-end metric of the change's BENCHMARK.json: each side's
median and quartiles over the seeds, the change's wins (ties count for
neither side), the relative change of the medians, and whether the gain
rule holds: the change wins at least nine tenths of the pairs and its
median beats the parent's by more than the parent's interquartile
distance. A metric whose median is worse than the parent's by more than
its bound is marked WORSE; one whose parent interquartile distance
exceeds the bound is marked unresolved.

--named m1,m2,... also reads, after each run, that checkout's
perfbench/work/report-<workload>-s<seed>-t<trace>.json, keeps the named
report metrics in the run's line, and prints each side's median of each
beside the verdicts (a traced run reports the per-layer ones, such as
streaming.getBatch_s_p50 and streaming.queue_wait_s_p50).

Exit status: 1 if any run failed a correctness check or did not finish,
else 0. Nothing is written under perfbench/ by this tool (the runs write
their own reports under each checkout's perfbench/work/).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return out


def run_one(checkout, workload, seed, seconds, trace):
    load1 = os.getloadavg()[0]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    result = None
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
                break
            except json.JSONDecodeError:
                pass
    if result is None:
        sys.stderr.write(proc.stderr[-2000:])
    return load1, proc.returncode, result


def report_values(checkout, workload, seed, trace, names):
    path = os.path.join(checkout, "perfbench", "work",
                        f"report-{workload}-s{seed}-t{trace}.json")
    try:
        with open(path) as f:
            report = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    found = {**report.get("result", {}).get("metrics", {}), **report.get("named", {})}
    return {n: found[n]["value"] for n in names if n in found}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg, help="e.g. 21-30 or 21,23,25")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", default=None, help="append each run's JSON line here")
    ap.add_argument("--named", default="", type=lambda t: [n for n in t.split(",") if n],
                    help="report metrics to print each side's median of, e.g. "
                         "ingest_capacity_docs_per_s,streaming.getBatch_s_p50")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    metrics = bench["end_to_end"] if a.trace == 0 else bench["per_layer"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = []
    bad = False
    for seed in a.seeds:
        order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            load1, code, result = run_one(sides[side], a.workload, seed, seconds, a.trace)
            rec = {"side": side, "seed": seed, "pos": pos, "workload": a.workload,
                   "trace": a.trace, "loadavg_1m": load1, "exit": code, "result": result}
            if a.named:
                rec["named"] = report_values(sides[side], a.workload, seed, a.trace, a.named)
            runs.append(rec)
            line = json.dumps(rec, separators=(",", ":"))
            print(line, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(line + "\n")
            if code != 0 or result is None or not result.get("correct"):
                bad = True

    def value(rec, name):
        m = (rec["result"] or {}).get("metrics", {}).get(name)
        return m.get("value") if m else None

    loads = [r["loadavg_1m"] for r in runs]
    print(f"\n{a.workload}: {len(a.seeds)} seeds, {len(runs)} runs, "
          f"loadavg {min(loads):.2f}-{max(loads):.2f}, "
          f"failed ops {sum((r['result'] or {}).get('failed', 0) for r in runs)}")
    print(f"{'metric':22s} {'parent med [q1,q3]':>28s} {'change med [q1,q3]':>28s} "
          f"{'change':>8s} {'wins':>6s}  verdict")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs = []
        for seed in a.seeds:
            p = [value(r, name) for r in runs if r["seed"] == seed and r["side"] == "parent"]
            c = [value(r, name) for r in runs if r["seed"] == seed and r["side"] == "change"]
            if p and c and p[0] is not None and c[0] is not None:
                pairs.append((p[0], c[0]))
        if not pairs:
            print(f"{name:22s} no values")
            continue
        pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
        pq, cq = quartiles(pv), quartiles(cv)
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        iqr = pq[2] - pq[0]
        rel = cq[1] / pq[1] - 1 if pq[1] else float("nan")
        verdict = []
        if wins >= 0.9 * len(pairs) and gain > iqr:
            verdict.append("GAIN (rule holds)")
        else:
            verdict.append("no gain claimable")
        bound = m.get("bound")
        if bound is not None:
            worse = -rel if higher else rel
            if worse > bound:
                verdict.append(f"WORSE beyond bound {bound}")
            if pq[1] and iqr / abs(pq[1]) > bound:
                verdict.append("unresolved (parent spread exceeds bound)")
        cell = lambda q: f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"
        print(f"{name:22s} {cell(pq):>28s} {cell(cq):>28s} {rel:+8.1%} "
              f"{wins:>3d}/{len(pairs):<2d}  {'; '.join(verdict)}")
    if a.named:
        print(f"\n{'report metric':34s} {'parent median':>14s} {'change median':>14s} {'change':>8s}")
        for name in a.named:
            med = {}
            for side in sides:
                xs = [r["named"][name] for r in runs
                      if r["side"] == side and name in r.get("named", {})]
                med[side] = statistics.median(xs) if xs else None
            p, c = med["parent"], med["change"]
            cell = lambda v: f"{v:14.4g}" if v is not None else f"{'-':>14s}"
            rel = f"{c / p - 1:+8.1%}" if p and c is not None else f"{'-':>8s}"
            print(f"{name:34s} {cell(p)} {cell(c)} {rel}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
