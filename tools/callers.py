#!/usr/bin/env python3
"""List the public defs of src/main/scala that no main code calls: every
non-`private`, non-`override` `def` whose name appears in no other
src/main/scala or perfbench/src file and nowhere else in its own file.
Comments and string literals are stripped first (the `$x`/`${...}` parts
of interpolated strings are kept), so a name that only scaladoc or an
error message mentions has no caller. The scan is by name: an overloaded
or shadowed name counts as called.

Usage: tools/callers.py [repo_root]    (default: the parent of this script's dir)
Prints `path name test_refs` per def, test_refs being the number of
src/test/scala files that name it, then `total N`.
"""
import os
import re
import sys
from collections import Counter

NOISE = re.compile(r'([A-Za-z_]\w*)?("""[\s\S]*?"""|"(?:\\.|[^"\\\n])*")'
                   r"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/")
SPLICE = re.compile(r"\$\{([^}]*)\}|\$([A-Za-z_]\w*)")
DEF = re.compile(r"^[ \t]*((?:(?:@\w+|final|implicit|override|inline"
                 r"|(?:private|protected)(?:\[\w+\])?)[ \t]+)*)def[ \t]+(\w+)", re.M)


def strip(text):
    def keep(m):
        if m.group(1) is None or m.group(2) is None:
            return " "
        return " ".join(a or b for a, b in SPLICE.findall(m.group(2)))
    return NOISE.sub(keep, text)


def sources(root, tree):
    for d, _, files in os.walk(os.path.join(root, tree)):
        for name in sorted(files):
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, root), strip(f.read())


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    main_src = dict(sources(root, "src/main/scala"))
    words = {p: Counter(re.findall(r"\w+", t)) for p, t in
             (main_src | dict(sources(root, "perfbench/src"))).items()}
    tests = [t for _, t in sources(root, "src/test/scala")]
    total = 0
    for path, text in sorted(main_src.items()):
        for m in DEF.finditer(text):
            mods, name = m.group(1), m.group(2)
            if "private" in mods or "override" in mods or words[path][name] > 1 \
                    or any(name in w for p, w in words.items() if p != path):
                continue
            refs = sum(bool(re.search(rf"\b{name}\b", t)) for t in tests)
            print(f"{path} {name} {refs}")
            total += 1
    print(f"total {total}")


if __name__ == "__main__":
    main()
