#!/usr/bin/env python3
"""Compare graft.ExplainOne plan trees between two output directories.

Usage: tools/plan_diff.py <dirA> <dirB>
       tools/plan_diff.py --count <regex> <dir>...

Reads every `*_plan.txt` in either directory and keeps its TREE section:
the lines after `== Physical Plan ==` up to the first blank line, with
`#<digits>` expression ids masked to `#`. The tree holds operator shape
only; the per-node details below it also differ in plan ids, source line
numbers and scratch paths, so they are not compared.

Prints one line per plan that differs (or exists on one side only),
followed by a unified diff of its tree, then a summary line. Exits 1 if
any plan differs, 2 on usage errors, 0 otherwise.

With --count, prints for each directory how many of its `*_plan.txt`
final plans match the regex (Python `re.search`): the TREE section
without the `== Initial Plan ==` block that AQE prints after its final
plan, together with the detail blocks of the operators numbered in it
(partitioning such as `rangepartitioning(...)` is only printed there).
Subquery plans are not included. Exits 0, or 2 on usage errors.
"""
import difflib
import os
import re
import sys

SUFFIX = "_plan.txt"


def sections(path):
    """(tree lines, lines after the tree), or None without a plan."""
    lines = open(path, encoding="utf-8").read().split("\n")
    try:
        start = lines.index("== Physical Plan ==") + 1
    except ValueError:
        return None
    end = start
    while end < len(lines) and lines[end].strip():
        end += 1
    return lines[start:end], lines[end:]


def tree(path):
    s = sections(path)
    if s is None:
        return ["<no '== Physical Plan ==' section>"]
    return [re.sub(r"#\d+", "#", line) for line in s[0]]


def final_plan(path):
    """The final tree's lines and the detail blocks of its operators."""
    s = sections(path)
    if s is None:
        return ""
    tree_lines, rest = s
    kept, initial_col = [], None
    for line in tree_lines:
        col = len(line) - len(line.lstrip(" :+-"))
        if initial_col is not None and col >= initial_col:
            continue
        initial_col = col if line.strip(" :+-") == "== Initial Plan ==" \
            else None
        if initial_col is None:
            kept.append(line)
    ids = {m.group(1) for m in (re.search(r"\((\d+)\)", line)
                                for line in kept) if m}
    details, keep = [], False
    for line in rest:
        m = re.match(r"\((\d+)\) ", line)
        if m:
            keep = m.group(1) in ids
        elif not line.strip():
            keep = False
        if keep:
            details.append(line)
    return "\n".join(kept + details)


def count(pattern, dirs):
    rx = re.compile(pattern)
    for d in dirs:
        ps = plans(d)
        hits = sum(1 for p in ps.values() if rx.search(final_plan(p)))
        print(f"{d}: {hits} of {len(ps)} plans match {pattern}")
    return 0


def plans(d):
    return {f[: -len(SUFFIX)]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(SUFFIX)}


def main(argv):
    if len(argv) >= 4 and argv[1] == "--count" and \
            all(os.path.isdir(d) for d in argv[3:]):
        return count(argv[2], argv[3:])
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
