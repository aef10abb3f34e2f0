#!/usr/bin/env python3
"""Diff two `runMain graft.Explain` dumps, ignoring run-varying ids.

Usage: python3 tools/plan_diff.py A B

A and B are the captured stdout (or `-o` markdown) of two Explain runs,
typically the same query list at two commits. Before comparing, each
line is masked:

  - expression and attribute ids        `#123`             -> `#<id>`
  - plan ids                            `plan_id=45`       -> `plan_id=<n>`
  - RDD ids                             `RDD[67]`          -> `RDD[<n>]`
  - JVM lambda names                    `$$Lambda$1/0x...@1a2b` -> `$$Lambda@<hex>`
  - source lines of RDD call sites      `at Foo.scala:12`  -> `at Foo.scala:<line>`

The first four masks cover what changes between two runs of one commit:
eager jobs in earlier queries shift the id counters, and lambdas print
their addresses. The last covers what moves between two commits without
changing the plan: a cached or checkpointed RDD names the source line
that made it. Anything left is reported as a unified diff and the exit
status is 1; identical dumps exit 0.

Two known differences are NOT masked; two runs of one commit can differ
there, so run those queries on their own, several times per commit, and
look for one masked dump both commits share:

  - `value_psi`'s plan embeds per-partition rank offsets
    (`CASE WHEN __pid = 31 THEN 9688 ...`) from an eager count over a
    range repartition whose bounds vary by run.
  - `knn_graph_nnd`'s adaptive final plan: its descent rounds run as
    eager jobs while the plan is built, and adaptive execution picks the
    build side of some broadcast joins (`BuildLeft`/`BuildRight`)
    differently from run to run; six runs at one commit gave four
    variants.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"\$\$Lambda[^\s,)\]]*@[0-9a-fA-F]+"), "$$Lambda@<hex>"),
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<n>]"),
    (re.compile(r"(\.(?:scala|java)):\d+"), r"\1:<line>"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        for pat, rep in MASKS:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = masked(argv[1]), masked(argv[2])
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2], lineterm=""))
    if not diff:
        print(f"identical after masking: {len(a)} lines")
        return 0
    print("\n".join(diff))
    changed = sum(1 for d in diff
                  if d[:1] in "+-" and not d.startswith(("+++", "---")))
    print(f"{changed} changed lines after masking", file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
