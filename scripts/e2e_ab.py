#!/usr/bin/env python3
"""A/B the end-to-end benchmark between two git revisions.

Usage (from the repository root):

    python3 scripts/e2e_ab.py --parent HEAD~1 --change HEAD --seeds 6

Each revision is checked out into its own `git worktree` under --dir (a
fresh temporary directory by default) and `e2ebench/run.py` builds it
there from source. Nothing is copied between checkouts: a copied
`target/` carries the other checkout's incremental-compiler state, and
one copy's build can then overwrite the other's classes.

For each seed and workload the two sides run back to back, alternating
which goes first, so slow phases of a shared host hit both. Per workload
and end-to-end metric (names and directions from BENCHMARK.json) it
prints each side's median and quartiles, the change/parent ratio of the
medians, the parent's interquartile range relative to its median, and on
how many seeds the change was better. Runs that fail or report failed
iterations are listed and left out of the statistics.

With --trace-seed N, one traced run per side and workload follows the
pairs, at seed N; it prints every per-layer metric (BENCHMARK.json
`per_layer`) whose value differs between the two sides.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def run(checkout, workload, seed, seconds, trace=0):
    p = subprocess.run([sys.executable, "e2ebench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}"
    r = json.loads(lines[-1])
    if not r.get("correct") or r.get("failed", 0):
        return None, f"correct={r.get('correct')} failed={r.get('failed')}"
    return {k: v["value"] for k, v in r["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git revision of the baseline")
    ap.add_argument("--change", required=True, help="git revision of the change")
    ap.add_argument("--seeds", type=int, default=6)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--workloads", default="",
                    help="comma-separated; default: every workload in BENCHMARK.json")
    ap.add_argument("--dir", default="", help="where the worktrees go")
    ap.add_argument("--keep", action="store_true", help="keep the worktrees")
    ap.add_argument("--trace-seed", type=int, default=0,
                    help="after the pairs, one traced run per side at this seed")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    workloads = [w for w in a.workloads.split(",") if w] or \
        [w["name"] for w in bench["workloads"]]

    base = a.dir or tempfile.mkdtemp(prefix="e2e-ab-")
    sides = {}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        path = os.path.join(base, side)
        git("worktree", "add", "--detach", path, git("rev-parse", rev))
        sides[side] = path
    try:
        results = {(w, s): [] for w in workloads for s in sides}
        for seed in range(1, a.seeds + 1):
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    m, err = run(sides[side], w, seed, a.seconds)
                    print(f"seed {seed} {w} {side}: " +
                          (err or " ".join(f"{k}={m[k]:.4g}" for k, _ in metrics)),
                          file=sys.stderr, flush=True)
                    results[(w, side)].append((seed, m))
        for w in workloads:
            print(f"{w}:")
            for name, better in metrics:
                p = {s: m[name] for s, m in results[(w, "parent")] if m}
                c = {s: m[name] for s, m in results[(w, "change")] if m}
                seeds = sorted(set(p) & set(c))
                if not seeds:
                    print(f"  {name}: no successful pair")
                    continue
                pm = statistics.median(p[s] for s in seeds)
                cm = statistics.median(c[s] for s in seeds)
                plo, phi = quartiles([p[s] for s in seeds])
                clo, chi = quartiles([c[s] for s in seeds])
                wins = sum((c[s] > p[s]) if better == "higher" else (c[s] < p[s])
                           for s in seeds)
                print(f"  {name:16s} parent {pm:.4g} [{plo:.4g}, {phi:.4g}]  "
                      f"change {cm:.4g} [{clo:.4g}, {chi:.4g}]  ratio {cm / pm:.3f}  "
                      f"parent IQR/median {(phi - plo) / pm:.3f}  "
                      f"change better {wins}/{len(seeds)}")
            for side in sides:
                bad = [s for s, m in results[(w, side)] if not m]
                if bad:
                    print(f"  {side}: failed seeds {bad}")
        if a.trace_seed:
            for w in workloads:
                traced = {side: run(sides[side], w, a.trace_seed, a.seconds, trace=1)
                          for side in sides}
                print(f"{w} traced, seed {a.trace_seed}:")
                if any(err for _, err in traced.values()):
                    print("  " + " ".join(f"{side}: {err}" for side, (_, err) in traced.items()
                                          if err))
                    continue
                p, c = traced["parent"][0], traced["change"][0]
                for name in layers:
                    if p.get(name) != c.get(name):
                        print(f"  {name:44s} parent {p.get(name)}  change {c.get(name)}")
    finally:
        if not a.keep:
            for path in sides.values():
                git("worktree", "remove", "--force", path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
