#!/usr/bin/env python3
"""Count code lines of the Scala sources: non-blank lines that are not
comments. A line is a comment when it starts with `//` or lies inside a
`/* ... */` block (scaladoc included) that opens at the start of a line.

Usage: tools/loc.py [repo_root]    (default: the parent of this script's dir)
Prints one line per tree, e.g. `src/main/scala 20666`.
"""
import os
import sys


def count(path):
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.endswith(".scala"):
                continue
            in_block = False
            with open(os.path.join(root, name), encoding="utf-8") as f:
                for raw in f:
                    line = raw.strip()
                    if in_block:
                        in_block = "*/" not in line
                    elif not line or line.startswith("//"):
                        pass
                    elif line.startswith("/*"):
                        in_block = "*/" not in line
                    else:
                        total += 1
    return total


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    for tree in ("src/main/scala", "src/test/scala"):
        print(f"{tree} {count(os.path.join(root, tree))}")


if __name__ == "__main__":
    main()
