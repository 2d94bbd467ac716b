#!/usr/bin/env python3
"""Compare two graft.ExplainAudit outputs query by query.

Usage: python3 tools/plandiff.py <audit_a> <audit_b>

An audit is the stdout of `graft.ExplainAudit [sfDir] [--summary]
[query ...]`: either one summary line per query (`<name> scans=...`) or
one full plan per query under a `########## <name>` header. Lines sbt
prefixes with `[info] ` are read without the prefix; other lines (logs)
are ignored.

Before comparing, each query's text is normalized so that ids a JVM
assigns afresh on every run do not count as differences:
  - expression ids `#123` (and `#123L`);
  - `plan_id=123`;
  - RDD ids (`rdd_12_3`, `[12] at`, `RDD 12`, `MapPartitionsRDD[12]`);
  - temporary-directory suffixes (`spark-<uuid>`, `blockmgr-<uuid>`,
    any UUID, and the digits of `/tmp`-style names ending in a number);
  - lambda class names (`$Lambda$123/0x...@abc`).
A value Spark abbreviated with `...` (a long filter list, say) is cut at
a fixed raw length, so its cut moves with the digits of the ids before
it: two lines that differ only there count as equal when, field by
field, each abbreviated value is a prefix of the other side's value.

Prints the query names only in one audit, then each query whose
normalized text differs (with the first differing line of each side),
and a count line. Exits 1 on any difference, 0 otherwise.
"""
import re
import sys

SUMMARY = re.compile(r"^(\S+)\s+scans=")
HEADER = re.compile(r"^########## (\S+)\s*$")

NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\[\d+\] at "), "[N] at "),
    (re.compile(r"\bRDD \d+"), "RDD N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"\b((?:spark|blockmgr|temp|tmp)[-_][\w-]*?)\d+\b"), r"\1N"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def parse(path):
    """Query name -> list of normalized lines, in audit order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                out[cur] = []
                continue
            m = SUMMARY.match(line)
            if m:
                out[m.group(1)] = [normalize(line)]
                cur = None
                continue
            if cur is not None:
                out[cur].append(normalize(line))
    # a full plan ends in a blank line before the next header
    return {k: [l for l in v if l.strip()] for k, v in out.items()}


FIELD = re.compile(r", (?=[A-Z][A-Za-z]*: )")


def same_line(la, lb):
    """Equal, or equal but for where Spark cut its `...` abbreviations:
    field by field (`, Key: ` boundaries), an abbreviated value matches
    a value it is a prefix of."""
    if la == lb:
        return True
    fa, fb = FIELD.split(la), FIELD.split(lb)
    if len(fa) != len(fb):
        return False
    for x, y in zip(fa, fb):
        if x == y:
            continue
        cx, cy = x.endswith("..."), y.endswith("...")
        if not (cx or cy):
            return False
        x, y = x[:-3] if cx else x, y[:-3] if cy else y
        if not ((cx and y.startswith(x)) or (cy and x.startswith(y))):
            return False
    return True


def first_diff(a, b):
    for i in range(max(len(a), len(b))):
        la = a[i] if i < len(a) else "<end>"
        lb = b[i] if i < len(b) else "<end>"
        if not same_line(la, lb):
            return i, la, lb
    return None


def main(a_path, b_path):
    a, b = parse(a_path), parse(b_path)
    bad = 0
    for n in sorted(a.keys() - b.keys()):
        print(f"query only in {a_path}: {n}")
        bad += 1
    for n in sorted(b.keys() - a.keys()):
        print(f"query only in {b_path}: {n}")
        bad += 1
    same = 0
    for n in sorted(a.keys() & b.keys()):
        d = first_diff(a[n], b[n])
        if d is None:
            same += 1
            continue
        bad += 1
        i, la, lb = d
        print(f"plan differs: {n} (line {i + 1})\n  a: {la}\n  b: {lb}")
    print(f"== {same} identical / {bad} differing ==")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
