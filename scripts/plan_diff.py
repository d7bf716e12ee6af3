#!/usr/bin/env python3
"""Compare two plan dumps written by scripts/dump_plans.sh.

    python3 scripts/plan_diff.py <dirA> <dirB> [--diff]

Files pair by query name: `<name>_<suffix>.txt`, with the suffix after
the last underscore dropped. Before comparing, both sides mask what
changes from run to run without a code change:

  - expression ids (`#123`) and `plan_id=`;
  - RDD ids (`MapPartitionsRDD[3200]`);
  - lambda class names and object hashes (`Foo$$$Lambda$61/0x7f..@3cc5`);
  - call sites (`at SparkEntry.scala:1429`), file name included, so a
    closure that moves to another file does not count as a change;
  - the engine's temp dirs (`/tmp/graft_pq_index_2604...`,
    `/tmp/graft_serve-<uuid>/serve_123`);
  - part-file names (`part-00019-<uuid>`): a file index lists a
    multi-file read in the order of its paths' hashes, and the paths
    hold the run's temp dir, so even which file is named first is
    run-local;
  - the checkout directory in `file:` locations under its `src/` (the
    bundled CSV fixtures are read by absolute path, so a parent
    extracted elsewhere would differ only there).

Prints the queries whose masked plans differ, or that only one side
has, and exits 1 if there is any; `--diff` adds a unified diff each.
"""
import difflib
import os
import re
import sys

MASKS = [
    # lambda classes first: their `$61/0x..@hash` tail holds ids too
    (re.compile(r"(?<![\w.$])[\w.$]*?\$\$Lambda[\w$/]*(?:@[0-9a-f]+)?"), "<lambda>"),
    (re.compile(r"(?<![\w.$])[\w.$]*?Lambda\$\d+/0x[0-9a-f]+(?:@[0-9a-f]+)?"), "<lambda>"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{5,8}\b"), "@<hash>"),
    (re.compile(r"(?<![^\s\[,:])/[^\s\[\],]*?graft_(?:serve-[0-9a-f-]{36}/serve_\d+"
                r"|[A-Za-z0-9_]+?_\d{6,})"), "<tmpdir>"),
    (re.compile(r"(?:part-\d{5}-)?[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
                r"-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(?<=file:)/[^\s\[\],]*?(?=/src/)"), "<tree>"),
    (re.compile(r"\b\w+\.scala:\d+"), "<callsite>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def load(d):
    plans = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            name = f[:-len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(d, f)) as fh:
                plans[name] = mask(fh.read())
    return plans


def main(argv):
    show = "--diff" in argv
    args = [a for a in argv if a != "--diff"]
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(args[0]), load(args[1])
    only = sorted(set(a) ^ set(b))
    differ = sorted(n for n in set(a) & set(b) if a[n] != b[n])
    for n in only:
        print(f"only in {args[0] if n in a else args[1]}: {n}")
    for n in differ:
        print(f"differs: {n}")
        if show:
            sys.stdout.writelines(difflib.unified_diff(
                a[n].splitlines(True), b[n].splitlines(True),
                f"{args[0]}/{n}", f"{args[1]}/{n}", n=1))
    print(f"{len(set(a) & set(b)) - len(differ)} identical, "
          f"{len(differ)} differ, {len(only)} on one side only")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
