#!/usr/bin/env python3
"""Compare two graft.ExplainAudit outputs query by query.

Usage: python3 tools/plandiff.py <audit_a> <audit_b> [query ...]

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
  - lambda class names (`$Lambda$123/0x...@abc`) and lambda variable
    names (`lambda x_150`);
  - the numbers of adaptive query stages (`BroadcastQueryStage 5`)
    and of whole-stage codegen spans (`*(6)`), which an executed plan
    assigns in the order a run happened to create its stages: each is
    renumbered by first appearance in the query's text, so which
    operators share a stage or a span still counts;
  - distinct-aggregate group numbering. Spark numbers the groups of a
    distinct aggregate (the `gid` column its `Expand` adds) in an order
    that hashes expressions together with their ids, so two JVMs can
    print the same plan with the groups permuted: other `gid` literals,
    other `Expand` row order, other column order in the lines that
    carry `gid`. Each group is renumbered by its `Expand` row's content,
    and in every line that mentions `gid` each bracketed list compares
    as a sorted list, so a filter still has to read the same group.
A value Spark abbreviated with `...` (a long filter list, say) is cut at
a fixed raw length, so its cut moves with the digits of the ids before
it: two lines that differ only there count as equal when, field by
field, each abbreviated value is a prefix of the other side's value.

Named queries restrict the comparison to them (to hold a full audit
against an audit of a few queries). Prints the query names only in one
audit, then each query whose
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
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+\b"), r"lambda \1_N"),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def close_of(s, i):
    """Index of the bracket closing the one at s[i], or None."""
    depth, quote = 0, False
    for j in range(i, len(s)):
        ch = s[j]
        if ch == "'":
            quote = not quote
        elif quote:
            continue
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth == 0:
                return j
    return None


def top_split(s):
    """The elements of a comma-separated list, split outside brackets."""
    parts, depth, quote, start = [], 0, False, 0
    for i, ch in enumerate(s):
        if ch == "'":
            quote = not quote
        elif quote:
            continue
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def sorted_lists(s):
    """`s` with the elements of every bracketed list sorted, nested
    lists first."""
    out, i = [], 0
    while i < len(s):
        j = close_of(s, i) if s[i] in "([" else None
        if j is None:
            out.append(s[i])
            i += 1
            continue
        elems = sorted(sorted_lists(e) for e in top_split(s[i + 1:j]))
        out.append(s[i] + ", ".join(elems) + s[j])
        i = j + 1
    return "".join(out)


EXPAND = re.compile(r"\bExpand \[")
GID = re.compile(r"^gid#(\d+)$")
GID_EQ = re.compile(r"\bgid#(\d+) = (\d+)\b")


def expand_rows(line):
    """(rows start, rows end, rows, gid column, gid id) of a line's
    distinct-aggregate `Expand`, or None."""
    m = EXPAND.search(line)
    end = close_of(line, m.end() - 1) if m else None
    if end is None or not line.startswith(", [", end + 1):
        return None
    out_end = close_of(line, end + 3)
    if out_end is None:
        return None
    cols = top_split(line[end + 4:out_end])
    gid = [i for i, c in enumerate(cols) if GID.match(c)]
    if not gid:
        return None
    rows = [top_split(r[1:-1]) for r in top_split(line[m.end():end])]
    return m.end(), end, rows, gid[0], GID.match(cols[gid[0]]).group(1)


def renumber_groups(lines):
    """Renumber each distinct-aggregate group by the content of its
    `Expand` row (ids normalized, elements sorted), in every line."""
    new = {}  # (gid attribute id, printed number) -> canonical number
    expands = {}  # line index -> expand_rows of that line
    for n, line in enumerate(lines):
        e = expand_rows(line)
        if e is None:
            continue
        _, _, rows, col, gid = e
        key = {r[col]: sorted(normalize(x) for i, x in enumerate(r) if i != col)
               for r in rows}
        for i, k in enumerate(sorted(key, key=key.get)):
            new[(gid, k)] = str(i)
        expands[n] = e
    if not new:
        return lines
    out = []
    for n, line in enumerate(lines):
        if n in expands:
            a, b, rows, col, gid = expands[n]
            line = line[:a] + ", ".join(
                "[" + ", ".join(new[(gid, x)] if i == col else x
                                for i, x in enumerate(r)) + "]"
                for r in rows) + line[b:]
        out.append(GID_EQ.sub(lambda m: "gid#%s = %s" % (
            m.group(1), new.get(m.groups(), m.group(2))), line))
    return out


RUN_ORDER = [re.compile(r"(\*\()(\d+)(\))"),
             re.compile(r"(\b\w+QueryStage )(\d+)()\b")]


def renumber_run_order(lines):
    """Stage and codegen-span numbers renumbered by first appearance."""
    for pat in RUN_ORDER:
        seen = {}
        lines = [pat.sub(lambda m: m.group(1) + seen.setdefault(
            m.group(2), str(len(seen))) + m.group(3), line)
            for line in lines]
    return lines


def canonical(lines):
    """A query's lines with run-specific numbering normalized."""
    out = []
    for line in renumber_groups(lines):
        line = normalize(line)
        out.append(sorted_lists(line) if "gid#" in line else line)
    return renumber_run_order(out)


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
                out[m.group(1)] = [line]
                cur = None
                continue
            if cur is not None:
                out[cur].append(line)
    # a full plan ends in a blank line before the next header
    return {k: canonical([l for l in v if l.strip()])
            for k, v in out.items()}


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


def main(a_path, b_path, names=()):
    a, b = parse(a_path), parse(b_path)
    if names:
        a = {n: v for n, v in a.items() if n in names}
        b = {n: v for n, v in b.items() if n in names}
    bad = 0
    for n in sorted(set(names) - a.keys() - b.keys()):
        print(f"query in neither audit: {n}")
        bad += 1
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
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
