#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark: a parent revision
against the working tree.

    python3 tools/ab_bench.py --parent REV --pairs 10 --seed0 8400 \
        [--workload sweep --workload analytics] [--seconds 15] [--trace 0] \
        [--workdir DIR] [--out pairs.json]

Each side runs from its own copy: the parent from `git archive REV`, the
change from the working tree's tracked and untracked, non-ignored files
(copies, not `git worktree`s, so nothing is registered in the repository's
`.git`). Both copies go under `--workdir` (default: a fresh directory in
the system temp dir). Pair i runs `perfbench/run.py --seed seed0+i` once in
each copy, parent first on even i and change first on odd i, so neither
side always gets the warmer or the quieter slot. The host steal share that
`run.py` logs on stderr is kept per run.

It prints every pair and each side's failed-op share (`failed` over
`attempted`, summed over its runs). Then, per metric, it prints the
medians with [Q1, Q3] of both sides, the number of pairs the change wins
(by the metric's `better` in `BENCHMARK.json`) and whether the median
gap exceeds the parent's inter-quartile range. For a metric with a
`bound`, it also prints the change/parent median ratio and flags a
BREACH when the change is worse by more than the bound (the
no-regression rule). It never writes into `perfbench/` or
`BENCHMARK.json` of this checkout.
"""

import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                      capture_output=True, text=True, check=True).stdout.strip()
STEAL = re.compile(r"host steal ([0-9.]+)%")


def copy_parent(rev, dst):
    tar = subprocess.run(["git", "-C", ROOT, "archive", rev],
                         capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dst)


def copy_tree(dst):
    names = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "-co", "--exclude-standard"],
        capture_output=True, check=True).stdout.split(b"\0")
    for n in filter(None, names):
        src = os.path.join(ROOT, n.decode())
        if not os.path.isfile(src):
            continue  # deleted in the working tree
        out = os.path.join(dst, n.decode())
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(src, "rb") as a, open(out, "wb") as b:
            b.write(a.read())
        os.chmod(out, os.stat(src).st_mode)


def run(copy, workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=copy, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    steal = STEAL.findall(p.stderr)
    res = json.loads(lines[-1]) if lines else {
        "correct": False, "failed": None, "metrics": {},
        "error": p.stderr[-400:]}
    res["steal"] = float(steal[-1]) / 100 if steal else None
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, pairs, spec):
    print(f"\n== {workload}: {len(pairs)} pairs (parent/change)")
    names = [m["name"] for m in spec]
    for i, (seed, a, b) in enumerate(pairs):
        cells = [f"{n} {a['metrics'].get(n, {}).get('value', float('nan')):.4g}"
                 f"/{b['metrics'].get(n, {}).get('value', float('nan')):.4g}"
                 for n in names]
        st = "/".join("?" if r["steal"] is None else f"{r['steal']:.1%}"
                      for r in (a, b))
        fails = "/".join(str(r.get("failed")) for r in (a, b))
        print(f"pair {i + 1} seed {seed}: " + ", ".join(cells) +
              f"; steal {st}; failed {fails}")
    for side, k in (("parent", 1), ("change", 2)):
        runs = [p[k] for p in pairs]
        done = [r for r in runs if r.get("attempted") is not None]
        att = sum(r["attempted"] for r in done)
        bad = sum(r["failed"] for r in done)
        print(f"{side} failed ops: {bad}/{att} "
              f"({bad / att if att else float('nan'):.1%})"
              + (f"; {len(runs) - len(done)} run(s) gave no result"
                 if len(done) < len(runs) else ""))
    ok = [(a, b) for _, a, b in pairs
          if a.get("failed") == 0 and b.get("failed") == 0]
    for m in spec:
        n = m["name"]
        xa = [a["metrics"][n]["value"] for a, _ in ok]
        xb = [b["metrics"][n]["value"] for _, b in ok]
        if not xa:
            continue
        lower = m.get("better", "lower") == "lower"
        wins = sum((vb < va) if lower else (vb > va) for va, vb in zip(xa, xb))
        qa, qb = quartiles(xa), quartiles(xb)
        gap = qb[1] - qa[1]
        bound = ""
        if "bound" in m and qa[1]:
            ratio = qb[1] / qa[1]
            worse = ratio - 1 if lower else 1 - ratio
            bound = (f"; change/parent median {ratio:.3f}, "
                     f"{'BREACH' if worse > m['bound'] else 'within'} "
                     f"bound {m['bound']:.0%}")
        print(f"{n}: parent {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] -> "
              f"change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] "
              f"({gap / qa[1] if qa[1] else float('nan'):+.1%} of the parent "
              f"median); change better in "
              f"{wins}/{len(xa)}; |median gap| {abs(gap):.4g} "
              f"{'>' if abs(gap) > qa[2] - qa[0] else '<='} parent IQR "
              f"{qa[2] - qa[0]:.4g}{bound}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of side A")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--out", default=None, help="write every run as JSON")
    args = ap.parse_args()

    work = args.workdir or tempfile.mkdtemp(prefix="ab_bench-")
    parent, change = os.path.join(work, "parent"), os.path.join(work, "change")
    for d in (parent, change):
        if os.path.exists(d):
            sys.exit(f"{d} exists; pass a fresh --workdir")
        os.makedirs(d)
    copy_parent(args.parent, parent)
    copy_tree(change)
    print(f"[ab_bench] parent {args.parent} -> {parent}; working tree -> "
          f"{change}", file=sys.stderr, flush=True)

    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    results = {}
    for w in workloads:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = [parent, change] if i % 2 == 0 else [change, parent]
            got = {c: run(c, w, seed, args.seconds, args.trace) for c in order}
            pairs.append((seed, got[parent], got[change]))
            print(f"[ab_bench] {w} pair {i + 1}/{args.pairs} seed {seed} done",
                  file=sys.stderr, flush=True)
        results[w] = pairs
        if args.out:  # before the report, so a report fault loses no run
            with open(args.out, "w") as f:
                json.dump({w: [{"seed": s, "parent": a, "change": b}
                               for s, a, b in ps]
                           for w, ps in results.items()}, f, indent=1)
        report(w, pairs, spec)


if __name__ == "__main__":
    main()
