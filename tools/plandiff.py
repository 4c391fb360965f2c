#!/usr/bin/env python3
"""Per-query physical-plan comparison of two `graft.Plans` dumps.

Splits each dump on its `========== <name> ==========` headers,
normalizes what differs between two runs of the same plan (expression
ids `#123`, exchange `plan_id=123`, identity hashes of array literals
`[J@1a2b3c`, the spill directory plus the `<name>_<seq>` suffix
`TextDedup.spillPath` gives each landed index, sbt's own log lines, and
the order Spark's distinct-aggregate rewrite picks for its `Expand`
groups), then prints one line per query: `same`, or the before->after
counts of the plan nodes that cost shuffles, sorts or row multiplication.

Usage: python3 tools/plandiff.py BEFORE AFTER
"""
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$", re.M)
# one operator line of a formatted plan tree, e.g. "   +- Exchange (33)"
TREE_LINE = re.compile(r"^[ :|+\-]*([A-Za-z]+)[^()\n]*\(\d+\)\s*$", re.M)
SBT_LOG = re.compile(r"^\[(success|info|warn|error)\]")
COUNTED = ["Exchange", "Sort", "Window", "Generate", "BroadcastNestedLoopJoin"]
EXPAND_ARGS = re.compile(r"^Arguments: (\[\[.*)$", re.M)
GID_TEST = re.compile(r"\b(gid# = )(\d+)\b")


def sections(path):
    text = open(path).read()
    heads = list(HEADER.finditer(text))
    out = {}
    for i, h in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(text)
        out[h.group(1)] = text[h.end():end]
    return out


def split_top(text):
    """Split `text` on the commas outside any brackets or parentheses."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(text):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(text[start:i].strip())
            start = i + 1
    items.append(text[start:].strip())
    return items


def distinct_expand(plan):
    """One spelling of a distinct-aggregate `Expand` (q21's `count(DISTINCT
    l_suppkey)` next to `count(DISTINCT late_supp)`).

    Spark's rewrite orders the distinct groups through a hash map keyed by
    expressions whose hashes carry their expression ids, so two plannings
    of one query may list the group columns, the projections and the
    `gid` numbers in either order. Sort the group columns by name wherever they appear as
    one run, sort the projections, and name each `gid` by its group's
    columns."""
    expands = EXPAND_ARGS.findall(plan)
    if len(expands) != 1:
        return plan
    projections, outputs = (split_top(x[1:-1]) for x in split_top(expands[0]))
    if "gid#" not in outputs:
        return plan
    projections = [split_top(x[1:-1]) for x in projections]
    g = outputs.index("gid#")
    grouped = [i for i in range(g) if any(p[i] == "null" for p in projections)]
    labels = {}
    for p in projections:
        names = [outputs[i].split("#")[0] for i in grouped if p[i] != "null"]
        labels[p[g]] = "+".join(names) or p[g]
    order = ([i for i in range(g) if i not in grouped]
             + sorted(grouped, key=lambda i: outputs[i])
             + list(range(g, len(outputs))))
    spelled = sorted(
        [labels[p[g]] if i == g else p[i] for i in order] for p in projections)
    line = "Arguments: [%s], [%s]" % (
        ", ".join("[%s]" % ", ".join(p) for p in spelled),
        ", ".join(outputs[i] for i in order))
    plan = EXPAND_ARGS.sub(lambda _: line, plan)
    run = [outputs[i] for i in grouped]
    plan = plan.replace(", ".join(run), ", ".join(sorted(run)))
    return GID_TEST.sub(lambda m: m.group(1) + labels.get(m.group(2), m.group(2)),
                        plan)


def normalize(plan):
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"(\[[A-Z])@[0-9a-f]+", r"\1@", plan)
    plan = re.sub(r"(graft_spill)[^/\s\]]*/(\w+?)_\d+\b", r"\1/\2_", plan)
    plan = distinct_expand(plan)
    return "\n".join(l.rstrip() for l in plan.splitlines()
                     if not SBT_LOG.match(l)).strip()


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
