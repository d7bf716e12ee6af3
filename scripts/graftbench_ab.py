#!/usr/bin/env python3
"""Paired A/B of two source trees on one graftbench workload.

Usage:

    python3 scripts/graftbench_ab.py <parent-tree> <change-tree> \
        --workload pairs --seeds 501 502 503 ...

Each seed makes one pair: one untraced run of `graftbench/run.py` in each
tree, back to back. The order alternates from pair to pair (parent first on
even pairs, change first on odd ones), so a drifting host load does not
favour one side. Each tree builds into its own directory, passed to run.py
as `CARGO_TARGET_DIR`, so neither rebuilds the other's classes. The build
directories sit under a new temp dir per invocation unless `--build-root`
names one to reuse: run.py keeps a tree's build by its source hash, and a
reused build of an extract that has since been deleted points at classes
that are gone. Every run's
host record is printed as it ends; then, for `setup_s` and `pass_s`, the
medians and quartiles (`statistics.quantiles(n=4)`) of both sides, the
number of pairs the change won (lower is better), the relative change of
the medians, and whether the gap between the medians exceeds the parent's
interquartile range. A pair in which either
run is incorrect or has failed operations is left out of the medians,
quartiles and win counts; the summary says how many were left out and the
script then exits with status 1. The trees are only read; the script writes
nothing but the build directories and `--out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

METRICS = ("setup_s", "pass_s")


def run(tree, build_dir, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        sys.exit(f"run failed in {tree} (seed {seed}, exit {proc.returncode})")
    return json.loads(lines[-2])["host"], json.loads(lines[-1])


def quartiles(vals):
    return statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3


def summary(vals):
    q1, _, q3 = quartiles(vals)
    return f"{statistics.median(vals):.3f} s (q1-q3 {q1:.3f}-{q3:.3f})"


def verdict(parent, change):
    """Relative change of the medians, and whether the gap between them
    exceeds the parent's interquartile range."""
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = quartiles(parent)
    beyond = "exceeds" if abs(mc - mp) > q3 - q1 else "within"
    return f"median {(mc - mp) / mp:+.1%}; gap {abs(mc - mp):.3f} s {beyond} parent IQR {q3 - q1:.3f} s"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--build-root",
                    help="holds one build directory per side (default: a new temp dir)")
    ap.add_argument("--out", help="append one JSON line per run to this file")
    args = ap.parse_args()

    trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    root = args.build_root or tempfile.mkdtemp(prefix="graftbench_ab_")
    builds = {side: os.path.join(root, side) for side in trees}
    vals = {side: {m: [] for m in METRICS} for side in trees}
    wins = {m: 0 for m in METRICS}
    bad = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            host, res = run(trees[side], builds[side], args.workload, seed, args.seconds)
            got[side] = res
            line = {"side": side, "seed": seed, "correct": res["correct"],
                    "failed": res["failed"], "host": host,
                    **{m: res["metrics"][m]["value"] for m in METRICS}}
            print(json.dumps(line), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(line) + "\n")
        if any(not r["correct"] or r["failed"] > 0 for r in got.values()):
            bad.append(seed)
            continue
        for m in METRICS:
            for side in trees:
                vals[side][m].append(got[side]["metrics"][m]["value"])
            wins[m] += got["change"]["metrics"][m]["value"] < got["parent"]["metrics"][m]["value"]

    kept = len(args.seeds) - len(bad)
    print(f"workload {args.workload}, {len(args.seeds)} pairs; {len(bad)} left out "
          f"(a run incorrect or with failed operations){': seeds ' + str(bad) if bad else ''}")
    if kept:
        for m in METRICS:
            print(f"{m}: parent {summary(vals['parent'][m])} -> change {summary(vals['change'][m])}, "
                  f"change won {wins[m]}/{kept}; {verdict(vals['parent'][m], vals['change'][m])}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
