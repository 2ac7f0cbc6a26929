#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark of record.

    python3 tools/bench_ab.py <parent-rev> <workload> <pairs> [--seed N]

Run from the root of a graft checkout: that checkout (its working tree)
is the change side. The committed files of <parent-rev> are exported
into a fresh directory under /tmp (git archive, so the repository gets
no worktree entry) and are the parent side. Pair i runs
`perfbench/run.py --workload <workload> --seed <N+i> --trace 0` once on
each side, parent first on even pairs and change first on odd ones, so
machine drift hits both sides alike. Every run lasts BENCHMARK.json's
`run_seconds`, the same on both sides.

Prints each side's median and quartiles for every end-to-end metric in
BENCHMARK.json, the change's pair wins (ties count for neither side)
and whether the gain rule holds: wins in at least nine tenths of the
pairs, a median gap wider than the parent's interquartile range and no
more failed runs on the change side than on the parent side.
The last line is the same summary as one JSON object. Nothing under
perfbench/ is modified; each side builds into its own `.bench_build/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    return q(0.25), q(0.5), q(0.75)


def run_side(root, workload, seed, seconds):
    """One perfbench run; returns its result object (None if it printed none)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"  run failed (exit {p.returncode}): {p.stderr.strip()[-400:]}", file=sys.stderr)
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_rev")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args()

    change = os.getcwd()
    bench = json.load(open(os.path.join(change, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="bench_ab-", dir="/tmp")
    parent = os.path.join(tmp, "parent")
    os.makedirs(parent)
    try:
        archive = subprocess.run(["git", "archive", args.parent_rev], cwd=change,
                                 capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        sides = {"parent": parent, "change": change}
        results = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_side(sides[side], args.workload, seed, seconds)
                results[side].append(r)
                ok = r is not None and r.get("correct")
                print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                      f"{'ok' if ok else 'FAILED'} "
                      f"result_s={((r or {}).get('metrics', {}).get('result_s') or {}).get('value')}",
                      file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def value(r, name):
        if r is None or not r.get("correct"):
            return None
        return (r["metrics"].get(name) or {}).get("value")

    summary = {"workload": args.workload, "parent_rev": args.parent_rev, "pairs": args.pairs,
               "first_seed": args.seed, "seconds": seconds,
               "failed_runs": {s: sum(1 for r in rs if r is None or not r.get("correct"))
                               for s, rs in results.items()},
               "metrics": {}}
    print(f"{'metric':<14}{'parent q1/med/q3':>32}{'change q1/med/q3':>32}{'wins':>8}  gain")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(value(p, name), value(c, name))
                 for p, c in zip(results["parent"], results["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"{name:<14}  no complete pair")
            continue
        pq = quartiles([p for p, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        gain = (wins >= 0.9 * args.pairs and gap > pq[2] - pq[0]
                and summary["failed_runs"]["change"] <= summary["failed_runs"]["parent"])
        summary["metrics"][name] = {"parent": pq, "change": cq, "wins": wins,
                                    "complete_pairs": len(pairs), "gain": gain}
        pf, cf = ("/".join(f"{x:.4g}" for x in q) for q in (pq, cq))
        print(f"{name:<14}{pf:>32}{cf:>32}{wins:>5}/{len(pairs):<2}  {'yes' if gain else 'no'}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
