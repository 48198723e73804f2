#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, and their summary.

    python3 tools/pairs.py --parent DIR --change DIR --workload ingest \\
        --seeds 1301-1310 --out records/perfbench_<name>_c4 \\
        [--seconds 10] [--trace 0|1] [--claim batch_p50_s]

Each pair runs `python3 perfbench/run.py` once in each checkout (the
root of a graft checkout, for example a `git archive` of the parent
commit and one of the change), with the same seed, seconds and trace
flag; the side that runs first alternates from pair to pair. Every
run's output goes to `<out>/<workload>_<side>_<seed>.out`, and
`<out>/summary.txt` gets, per metric of the workload, each side's
median and quartiles, the change/parent ratio of the medians, how many
pairs the change won (ties count for neither side) and the parent's
spread (IQR/median). Each end-to-end metric is checked against its
BENCHMARK.json bound; `--claim` names the metric whose gain is
claimed, judged by the pairs rule: the change wins at least nine
tenths of the pairs AND the medians differ by more than the parent's
interquartile range.

Pairs already on disk (both `.out` files present, each with its result
line) are read, not run again, so an interrupted session resumes; add
more `--seeds` to extend a set. Re-running with other workloads and the
same `--out` appends their section to `summary.txt`. The script only
reads `perfbench/` and BENCHMARK.json and writes only under `--out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """'1301-1310' or '7,8,9' (or a mix) → list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    """(q1, median, q3) of a sample, by the inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def result_of(path):
    """The JSON result line of one run's output, or None."""
    if not os.path.exists(path):
        return None
    with open(path, errors="replace") as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def run_one(checkout, workload, seed, seconds, trace, path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    with open(path, "w") as f:
        f.write(f"# cwd={checkout} {' '.join(cmd)}\n")
        f.flush()
        subprocess.call(cmd, cwd=checkout, stdout=f, stderr=subprocess.STDOUT,
                        stdin=subprocess.DEVNULL)
    return result_of(path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="root of the parent checkout")
    ap.add_argument("--change", required=True, help="root of the change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg)
    ap.add_argument("--out", required=True, help="directory for outputs and summary.txt")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--claim", help="the metric whose gain is claimed")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kinds = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: m for m in spec[kinds]}
    if args.claim and args.claim not in metrics:
        sys.exit(f"--claim {args.claim}: not a {kinds} metric of BENCHMARK.json")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    os.makedirs(args.out, exist_ok=True)

    results = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            tag = f"{args.workload}{'_trace' if args.trace else ''}_{side}_{seed}"
            path = os.path.join(args.out, f"{tag}.out")
            r = result_of(path) or run_one(sides[side], args.workload, seed, args.seconds,
                                           args.trace, path)
            print(f"[pairs] seed {seed} {side}: "
                  f"{'no result' if r is None else ('correct' if r['correct'] else 'INCORRECT')}",
                  file=sys.stderr, flush=True)
            results[side].append(r)

    paired = [(p, c) for p, c in zip(results["parent"], results["change"])
              if p is not None and c is not None]
    lines = [f"== {args.workload}{' (traced)' if args.trace else ''}: {len(paired)} pairs "
             f"(seeds {args.seeds[0]}-{args.seeds[-1]}, --seconds {args.seconds:g}); "
             f"correct parent {sum(p['correct'] for p, _ in paired)}/{len(paired)}, "
             f"change {sum(c['correct'] for _, c in paired)}/{len(paired)}; "
             f"failed parent {sum(p['failed'] for p, _ in paired)}/"
             f"{sum(p['attempted'] for p, _ in paired)}, "
             f"change {sum(c['failed'] for _, c in paired)}/"
             f"{sum(c['attempted'] for _, c in paired)}"]
    for name, m in metrics.items():
        pv = [p["metrics"][name]["value"] for p, _ in paired if name in p["metrics"]]
        cv = [c["metrics"][name]["value"] for _, c in paired if name in c["metrics"]]
        both = [(a, b) for a, b in zip(pv, cv) if a is not None and b is not None]
        if not both:
            continue
        pv, cv = [a for a, _ in both], [b for _, b in both]
        lower = m.get("better", "lower") == "lower"
        pq, cq = quartiles(pv), quartiles(cv)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        wins = sum((b < a) if lower else (b > a) for a, b in both)
        iqr = pq[2] - pq[0]
        line = (f"{name:<24} parent {pq[1]:10.4g} [{pq[0]:.4g},{pq[2]:.4g}]  "
                f"change {cq[1]:10.4g} [{cq[0]:.4g},{cq[2]:.4g}]  ratio {ratio:.3f}  "
                f"change better {wins}/{len(both)}  "
                f"parent IQR/med {iqr / pq[1] if pq[1] else float('nan'):.3f}")
        if "bound" in m:
            worse = (ratio - 1) if lower else (1 - ratio)
            line += f"  {'WORSE than bound' if worse > m['bound'] else 'within bound'} {m['bound']}"
        if name == args.claim:
            gap = abs(cq[1] - pq[1])
            won = wins >= 0.9 * len(both)
            better = cq[1] < pq[1] if lower else cq[1] > pq[1]
            verdict = "GAIN SHOWN" if won and better and gap > iqr else "gain NOT shown"
            line += (f"\n  claim {name}: won {wins}/{len(both)} (need {0.9 * len(both):g}), "
                     f"median gap {gap:.4g} vs parent IQR {iqr:.4g} → {verdict}")
        lines.append(line)
    with open(os.path.join(args.out, "summary.txt"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
