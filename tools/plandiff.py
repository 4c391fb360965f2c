#!/usr/bin/env python3
"""Per-query physical-plan comparison of two `graft.Plans` dumps.

Splits each dump on its `========== <name> ==========` headers,
normalizes what differs between two runs of the same plan (expression
ids `#123`, exchange `plan_id=123`, identity hashes of array literals
`[J@1a2b3c`, the spill directory plus the `<name>_<seq>` suffix
`TextDedup.spillPath` gives each landed index, and sbt's own log lines),
then prints one line per query: `same`, or the before->after counts of
the plan nodes that cost shuffles, sorts or row multiplication.

Usage: python3 tools/plandiff.py BEFORE AFTER
"""
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$", re.M)
# one operator line of a formatted plan tree, e.g. "   +- Exchange (33)"
TREE_LINE = re.compile(r"^[ :|+\-]*([A-Za-z]+)[^()\n]*\(\d+\)\s*$", re.M)
SBT_LOG = re.compile(r"^\[(success|info|warn|error)\]")
COUNTED = ["Exchange", "Sort", "Window", "Generate", "BroadcastNestedLoopJoin"]


def sections(path):
    text = open(path).read()
    heads = list(HEADER.finditer(text))
    out = {}
    for i, h in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(text)
        out[h.group(1)] = text[h.end():end]
    return out


def normalize(plan):
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"(\[[A-Z])@[0-9a-f]+", r"\1@", plan)
    plan = re.sub(r"(graft_spill)[^/\s\]]*/(\w+?)_\d+\b", r"\1/\2_", plan)
    return "\n".join(l.rstrip() for l in plan.strip().splitlines()
                     if not SBT_LOG.match(l))


def counts(plan):
    names = TREE_LINE.findall(plan)
    return [names.count(n) for n in COUNTED]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[-1])
    before, after = sections(sys.argv[1]), sections(sys.argv[2])
    for name in list(before) + [n for n in after if n not in before]:
        if name not in after or name not in before:
            side = "before" if name in before else "after"
            print(f"{name}: only in {side}")
            continue
        b, a = normalize(before[name]), normalize(after[name])
        if b == a:
            print(f"{name}: same")
            continue
        deltas = ", ".join(f"{n} {x}->{y}"
                           for n, x, y in zip(COUNTED, counts(b), counts(a)))
        print(f"{name}: {deltas}")


if __name__ == "__main__":
    main()
