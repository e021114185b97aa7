#!/usr/bin/env python3
"""Compare two plan-dump directories with the per-run ids masked.

Usage: python3 tools/plandiff.py [--diff] <dirA> <dirB>

Each directory holds one file per query, as written by
`SPARK_GRAFT_PLAN_OUT=<dir>/<suffix> sbt "runMain graft.PlanDump"`.
Files are paired by name. Before comparing, the ids that change from run
to run without the plan changing are masked:

  - expression ids            `#123`          -> `#N`
  - Spark Connect plan ids    `plan_id=123`   -> `plan_id=N`
  - lambda variables          `lambda x_12`   -> `lambda x_N`
  - lambda classes / hashes   `$$Lambda/0x..@1a2b` and `@1a2b3c4d`
  - RDD ids                   `RDD[123]`      -> `RDD[N]`
  - source lines              `Foo.scala:123` -> `Foo.scala:N`
  - UUIDs (streaming run ids, checkpoint dirs)

Prints the names whose masked dumps differ (and those present on one
side only); `--diff` also prints a unified diff of each. Exits 1 if any
differ, 0 if all match.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"\$\$Lambda[\w/$]*(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"#\d+"), "#N"),
]


def masked(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def read(path):
    with open(path, encoding="utf-8") as f:
        return masked(f.read())


def main(argv):
    show = "--diff" in argv
    args = [a for a in argv if a != "--diff"]
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = args
    names_a, names_b = set(os.listdir(a)), set(os.listdir(b))
    same = differ = 0
    for name in sorted(names_a | names_b):
        if name not in names_b or name not in names_a:
            side = a if name in names_a else b
            print(f"{name}: only in {side}")
            differ += 1
            continue
        ta, tb = read(os.path.join(a, name)), read(os.path.join(b, name))
        if ta == tb:
            same += 1
        else:
            print(f"{name}: differs")
            differ += 1
            if show:
                sys.stdout.writelines(difflib.unified_diff(
                    ta.splitlines(True), tb.splitlines(True),
                    os.path.join(a, name), os.path.join(b, name)))
    print(f"[plandiff] {same} identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
