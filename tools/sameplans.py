#!/usr/bin/env python3
"""Compare two `graft.tools.ExecPlan` output dirs file by file.

    python3 tools/sameplans.py <dirA> <dirB>

Ids that vary from run to run are normalized before the compare:
expression ids (`doc_id#203L` -> `doc_id#L`), exchange plan ids
(`[plan_id=2997]`), adaptive query stage and whole-stage codegen ids
(`ShuffleQueryStage 9`, `*(5) Sort`),
RDD ids and the source line that made an RDD (`MapPartitionsRDD[153]
at localCheckpoint at Text.scala:687`), and the JVM-wide counter in
lambda variable names (`x_12` -> `x_`). Adaptive execution still picks
join sides and broadcasts from the stage sizes and completion order it
sees at run time, so the same tree can dump different plans; compare
the plans of several runs of each tree. Prints the first differing line
of each plan that differs, and each plan only one side has; exits 1 on
any difference.
"""
import os
import re
import sys

RUN_VARYING = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"QueryStage \d+"), "QueryStage"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala"),
    (re.compile(r"\bx_\d+\b"), "x_"),
]


def normalized(path):
    lines = []
    for line in open(path, encoding="utf-8").read().splitlines():
        for pat, rep in RUN_VARYING:
            line = pat.sub(rep, line)
        lines.append(line)
    return lines


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
    diff = 0
    for name in names:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not (os.path.isfile(pa) and os.path.isfile(pb)):
            diff += 1
            print(f"DIFF {name}: only in {a if os.path.isfile(pa) else b}")
            continue
        la, lb = normalized(pa), normalized(pb)
        if la == lb:
            continue
        diff += 1
        i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
        print(f"DIFF {name} at line {i + 1}:")
        print(f"  A: {la[i] if i < len(la) else '<end>'}")
        print(f"  B: {lb[i] if i < len(lb) else '<end>'}")
    print(f"{len(names) - diff} same, {diff} different")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
