#!/usr/bin/env python3
"""List the engine's definitions that no code names.

Usage: python3 tools/unreached.py [repo_root]

Scans src/main/**/*.scala and perfbench/harness/*.scala with comments
stripped, and prints every `def`/`val`/`var`/`class`/`object`/`trait`
of src/main whose name occurs nowhere but in its own definitions (an
`override` is reached through its parent and `apply`/`unapply` through
call and pattern syntax, so they are skipped). Entry points and the
oracles that tests alone reach are kept on purpose; each prints with
its reason.
"""
import glob
import os
import re
import sys

KEPT = {
    "DashboardMain": "entry point: runMain graft.serving.DashboardMain",
    "Verify": "entry point: runMain graft.Verify",
    "entry": "entry point: the driver contract's flagship query",
    "inertia": "test oracle: SimilaritySpec checks k-means never raises it",
    "varianceExplained": "test oracle: PcaSpec checks the explained share",
    "redact": "test oracle: CorpusSpec scrubs planted PII with it",
    "htmlExtractedDocs": "test oracle: AnalyticsSpec chains it into c4LineFilter",
    "mwuFromGrain": "test oracle: the Mann-Whitney readout the grain tests replay",
}
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
DEF = re.compile(r'^(.*?)\b(def|val|var|class|object|trait)\s+([A-Za-z_]\w*)', re.M)


def strip_comments(text):
    # a comment becomes blank lines, so line numbers still hold
    return TOKEN.sub(lambda m: m.group(0) if m.group(0)[0] in "\"'"
                     else re.sub(r"[^\n]", " ", m.group(0)), text)


def main(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    code = {f: strip_comments(open(f, encoding="utf-8").read()) for f in files + harness}
    uses = {}
    for text in code.values():
        for w in re.findall(r"\w+", text):
            uses[w] = uses.get(w, 0) + 1
    defs = [(f, text.count("\n", 0, m.start(3)) + 1, m.group(2), m.group(3))
            for f in files for text in [code[f]] for m in DEF.finditer(text)
            if "override" not in m.group(1) and m.group(3) not in ("apply", "unapply")]
    n_defs = {}
    for _, _, _, name in defs:
        n_defs[name] = n_defs.get(name, 0) + 1
    for f, line, kind, name in defs:
        if uses[name] == n_defs[name]:
            reason = f"  -- kept: {KEPT[name]}" if name in KEPT else ""
            print(f"{os.path.relpath(f, root)}:{line}: {kind} {name}{reason}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
