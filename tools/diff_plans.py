#!/usr/bin/env python3
"""Compare two directories of `explain("formatted")` plan files.

Usage: python3 tools/diff_plans.py DIR_A DIR_B

Files are paired by name. Before comparing, the ids that change from one
run of the same plan to the next are masked: expression ids (`#123`),
`plan_id=123` and RDD ids (`RDD[123]`). Prints each file that differs,
with its first differing line, and each file present on one side only;
exits 1 if there is any, 0 if every pair is identical.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<id>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<id>]"),
]


def masked_lines(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines()


def first_difference(a, b):
    for i, (la, lb) in enumerate(zip(a, b)):
        if la != lb:
            return i + 1, la, lb
    n = min(len(a), len(b))
    return (n + 1, a[n] if n < len(a) else "<end>",
            b[n] if n < len(b) else "<end>")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    names_a = {n for n in os.listdir(dir_a) if os.path.isfile(os.path.join(dir_a, n))}
    names_b = {n for n in os.listdir(dir_b) if os.path.isfile(os.path.join(dir_b, n))}
    same = bad = 0
    for name in sorted(names_a | names_b):
        if name not in names_b:
            print(f"only in {dir_a}: {name}")
            bad += 1
            continue
        if name not in names_a:
            print(f"only in {dir_b}: {name}")
            bad += 1
            continue
        a = masked_lines(os.path.join(dir_a, name))
        b = masked_lines(os.path.join(dir_b, name))
        if a != b:
            line, la, lb = first_difference(a, b)
            print(f"differs: {name} (line {line})\n  < {la}\n  > {lb}")
            bad += 1
        else:
            same += 1
    print(f"{same} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
