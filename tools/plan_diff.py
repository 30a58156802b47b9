#!/usr/bin/env python3
"""Compare graft.ExplainOne plan trees between two output directories.

Usage: tools/plan_diff.py <dirA> <dirB>

Reads every `*_plan.txt` in either directory and keeps its TREE section:
the lines after `== Physical Plan ==` up to the first blank line, with
`#<digits>` expression ids masked to `#`. The tree holds operator shape
only; the per-node details below it also differ in plan ids, source line
numbers and scratch paths, so they are not compared.

Prints one line per plan that differs (or exists on one side only),
followed by a unified diff of its tree, then a summary line. Exits 1 if
any plan differs, 2 on usage errors, 0 otherwise.
"""
import difflib
import os
import re
import sys

SUFFIX = "_plan.txt"


def tree(path):
    lines = open(path, encoding="utf-8").read().split("\n")
    try:
        start = lines.index("== Physical Plan ==") + 1
    except ValueError:
        return ["<no '== Physical Plan ==' section>"]
    out = []
    for line in lines[start:]:
        if not line.strip():
            break
        out.append(re.sub(r"#\d+", "#", line))
    return out


def plans(d):
    return {f[: -len(SUFFIX)]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(SUFFIX)}


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    names = sorted(set(a) | set(b))
    differ = 0
    for n in names:
        if n not in a or n not in b:
            differ += 1
            print(f"DIFF {n}: only in {argv[1] if n in a else argv[2]}")
            continue
        ta, tb = tree(a[n]), tree(b[n])
        if ta != tb:
            differ += 1
            print(f"DIFF {n}")
            for line in difflib.unified_diff(ta, tb, argv[1], argv[2],
                                             lineterm="", n=1):
                print("  " + line)
    print(f"== {len(names) - differ} same, {differ} differ ==")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
