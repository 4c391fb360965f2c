#!/usr/bin/env python3
"""Non-blank, non-comment line count of the main Scala sources.

Prints one `<count>  <path>` line per `.scala` file under `src/main`
(sorted by path), then `<total>  total`. A line is skipped when it is
blank, starts with `//` or `*`, or lies inside a `/* ... */` block
(including a one-line `/** ... */`). Code followed by a trailing comment
counts as code.

Usage (from the repository root): python3 tools/loc.py
"""
import os

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                in_block = "*/" not in line
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            if not line or line.startswith("//") or line.startswith("*"):
                continue
            n += 1
    return n


def main():
    root = os.path.normpath(ROOT)
    files = sorted(
        os.path.join(d, name)
        for d, _, names in os.walk(root)
        for name in names if name.endswith(".scala"))
    total = 0
    for p in files:
        c = count(p)
        total += c
        print(f"{c:7d}  {os.path.relpath(p, os.path.dirname(os.path.dirname(root)))}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
