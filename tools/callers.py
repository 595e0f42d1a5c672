#!/usr/bin/env python3
"""List the public defs of src/main/scala that no main code calls: every
non-`private`, non-`override` `def` whose name appears in no other
src/main/scala or perfbench/src file and nowhere else in its own file.
Comments and string literals are stripped first (the `$x`/`${...}` parts
of interpolated strings are kept, string literals nested in a splice
included), so a name that only scaladoc or an error message mentions has
no caller. The scan is by name: an overloaded
or shadowed name counts as called.

Usage: tools/callers.py [repo_root]    (default: the parent of this script's dir)
Prints `path name test_refs` per def, test_refs being the number of
src/test/scala files that name it, then `total N`.
"""
import os
import re
import sys
from collections import Counter

IDENT = re.compile(r"[A-Za-z_]\w*")
CHAR = re.compile(r"'(?:\\.|[^'\\\n])'")
DEF = re.compile(r"^[ \t]*((?:(?:@\w+|final|implicit|override|inline"
                 r"|(?:private|protected)(?:\[\w+\])?)[ \t]+)*)def[ \t]+(\w+)", re.M)


def scan(text, i=0, splice=False):
    """Code of text[i:] with comments and string literals blanked; the
    `$x`/`${...}` parts of interpolated strings are kept, nested literals
    in a splice included. In a splice, stops after its closing brace.
    Returns (code, end index)."""
    out, depth = [], 0
    while i < len(text):
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = len(text) if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            i = len(text) if j < 0 else j + 2
            out.append(" ")
        elif c == "'" and (m := CHAR.match(text, i)):
            i = m.end()
            out.append(" ")
        elif c == '"':
            code, i = literal(text, i, False)
            out.append(code)
        elif m := IDENT.match(text, i):
            if text.startswith('"', m.end()):
                code, i = literal(text, m.end(), True)
                out.append(code)
            else:
                out.append(m.group())
                i = m.end()
        else:
            if splice and c == "{":
                depth += 1
            elif splice and c == "}":
                if depth == 0:
                    return "".join(out), i + 1
                depth -= 1
            out.append(c)
            i += 1
    return "".join(out), i


def literal(text, i, interpolated):
    """The kept code of the string literal at text[i] and its end index."""
    quote = '"""' if text.startswith('"""', i) else '"'
    i += len(quote)
    kept = []
    while i < len(text) and not text.startswith(quote, i) and \
            not (quote == '"' and text[i] == "\n"):
        if quote == '"' and text[i] == "\\":
            i += 2
        elif interpolated and text.startswith("${", i):
            code, i = scan(text, i + 2, True)
            kept.append(code)
        elif interpolated and text[i] == "$" and (m := IDENT.match(text, i + 1)):
            kept.append(m.group())
            i = m.end()
        else:
            i += 2 if interpolated and text.startswith("$$", i) else 1
    return " " + " ".join(kept) + " ", i + len(quote)


def strip(text):
    return scan(text)[0]


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
