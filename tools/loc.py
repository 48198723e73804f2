#!/usr/bin/env python3
"""Code lines of `src/main`, per file and in total.

    python3 tools/loc.py [--rev R] [--total]

A code line is a non-blank line left after removing every `/* … */`
block (scaladoc included) and every line whose first non-blank
characters are `//`. Trailing comments after code do not change the
count. Without `--rev` the working tree is counted; with `--rev R`
the files of revision R are read through `git show`, so two
revisions compare without a checkout:

    python3 tools/loc.py --rev HEAD~1 --total
    python3 tools/loc.py --total

Prints one `<lines>  <path>` row per file, largest first, then the
total; `--total` prints the total alone.
"""
import argparse
import os
import re
import subprocess
import sys

ROOT = "src/main"
BLOCK = re.compile(r"/\*.*?\*/", re.S)


def code_lines(text):
    """Non-blank, non-comment lines of one source text."""
    # keep the newlines a block spans, so line structure survives
    text = BLOCK.sub(lambda m: "\n" * m.group(0).count("\n"), text)
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def sources(rev):
    """(path, text) of every file under ROOT, at `rev` or on disk."""
    if rev is None:
        for d, _, files in os.walk(ROOT):
            for f in sorted(files):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    yield p, fh.read()
        return
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        yield p, subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                capture_output=True, text=True).stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", help="git revision to count instead of the working tree")
    ap.add_argument("--total", action="store_true", help="print the total only")
    a = ap.parse_args()
    if not os.path.isdir(".git") and a.rev:
        sys.exit("run from the root of the git checkout")
    rows = sorted(((code_lines(t), p) for p, t in sources(a.rev)), reverse=True)
    total = sum(n for n, _ in rows)
    if not a.total:
        for n, p in rows:
            print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
