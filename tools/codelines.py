#!/usr/bin/env python3
"""Count the code lines of the tracked src/main Scala files.

Usage: python3 tools/codelines.py [checkout]

A code line is a non-blank line that does not start (after leading
whitespace) with `//`, `/*` or `*` — the count ROADMAP.md's "Where
things stand" reports. Reads the files `git ls-files src/main` lists in
the checkout (default: the current directory) and prints one line per
file, then the total:

    <code lines>  <path>
    <code lines>  total
"""
import re, subprocess, sys

COMMENT = re.compile(r"^\s*($|//|/\*|\*)")


def code_lines(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return sum(1 for line in f if not COMMENT.match(line))


def main(checkout):
    files = subprocess.run(["git", "-C", checkout, "ls-files", "src/main"],
                           check=True, capture_output=True,
                           text=True).stdout.split()
    counts = [(code_lines(f"{checkout}/{f}"), f)
              for f in sorted(files) if f.endswith(".scala")]
    for n, f in counts:
        print(f"{n:7d}  {f}")
    print(f"{sum(n for n, _ in counts):7d}  total")


if __name__ == "__main__":
    if len(sys.argv) > 2:
        sys.exit(__doc__)
    main(sys.argv[1] if len(sys.argv) == 2 else ".")
