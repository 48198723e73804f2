#!/usr/bin/env python3
"""Plan-identity check: compare two `graft.PlanDump` directories.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each dump file is `<query>_<suffix>.txt`; queries are matched by name,
whatever the two dumps' suffixes. Only the pre-execution section
(`explain(formatted)`) is compared, after masking what changes from
run to run without the plan changing:

  - expression ids `#N`;
  - `plan_id=N`;
  - lambda class names and identity hashes (`$$Lambda$N/0x…@hex`,
    `Class@hex`; content hashes such as `UnsafeArrayData@hex` stay);
  - temp-dir suffixes (`/tmp/graft-c36c8380808863791009505/…`);
  - call sites `.scala:<line>`;
  - RDD numbers `RDD[N]` on `Scan ExistingRDD` lines (a
    `localCheckpoint` or RDD-built frame carries the session's RDD
    count, so it depends on what ran before the query).

Prints each query that differs, with its first differing lines, and
exits 1 on any difference (a query dumped on one side only counts).
"""
import os
import re
import sys

PRE = "----- explain(formatted), pre-execution -----"
POST = "----- executedPlan after noop write (AQE final) -----"
# hashCode of these is their content, not their identity
CONTENT_HASHED = ("UnsafeArrayData", "UnsafeRow", "UnsafeMapData")

LAMBDA = re.compile(r"\$\$?Lambda[$/][\w$/]*@[0-9a-f]+")
IDENTITY = re.compile(r"(?<![\w$])([\w$]+)@[0-9a-f]{4,}\b")
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
TEMP_DIR = re.compile(r"(/[A-Za-z][\w.-]*?[A-Za-z_-])\d{6,}(?=[/\]\s,)])")
CALL_SITE = re.compile(r"\.scala:\d+")
RDD_NUM = re.compile(r"RDD\[\d+\]")


def mask(line):
    line = LAMBDA.sub("$Lambda@_", line)
    line = IDENTITY.sub(
        lambda m: m.group(0) if m.group(1).endswith(CONTENT_HASHED) else m.group(1) + "@_",
        line)
    line = EXPR_ID.sub("#_", line)
    line = PLAN_ID.sub("plan_id=_", line)
    line = TEMP_DIR.sub(r"\1_", line)
    line = CALL_SITE.sub(".scala:_", line)
    if "ExistingRDD" in line:
        line = RDD_NUM.sub("RDD[_]", line)
    return line


def pre_execution(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        text = f.read()
    start = text.find(PRE)
    end = text.find(POST)
    if start < 0:
        raise SystemExit(f"{path}: no '{PRE}' section — not a PlanDump file")
    body = text[start + len(PRE):end if end >= 0 else len(text)]
    return [mask(line) for line in body.splitlines()]


def dump(d):
    out = {}
    for name in os.listdir(d):
        if name.endswith(".txt") and "_" in name:
            out[name[:-4].rsplit("_", 1)[0]] = os.path.join(d, name)
    if not out:
        raise SystemExit(f"{d}: no PlanDump files")
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = dump(argv[1]), dump(argv[2])
    differ = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"DIFF {q}: dumped only in {argv[1] if q in a else argv[2]}")
            differ += 1
            continue
        la, lb = pre_execution(a[q]), pre_execution(b[q])
        if la == lb:
            continue
        differ += 1
        pairs = [(i, x, y) for i, (x, y) in enumerate(zip(la, lb)) if x != y]
        if len(la) != len(lb):
            print(f"DIFF {q}: {len(la)} vs {len(lb)} lines")
        else:
            print(f"DIFF {q}: {len(pairs)} lines differ")
        for i, x, y in pairs[:2]:
            print(f"  line {i + 1}:\n    < {x.strip()[:240]}\n    > {y.strip()[:240]}")
    print(f"{len(set(a) | set(b))} queries, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
