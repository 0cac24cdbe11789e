#!/usr/bin/env python3
"""List public defs in src/main that nothing outside the tests names.

For every `def` in src/main/**/*.scala that is not `private`,
`private[...]` or an `override`, count the word-boundary occurrences
of its name across src/main and perfbench/src, with `//` and `/* */`
comments (scaladoc included) stripped first: a name that appears only
in prose calls nothing. String literals are kept, because `s"${f(x)}"`
interpolations call defs. A name that occurs exactly once is named only by its own definition: the
def is reachable from the tests at most. Each such def prints as

    <file>:<line> <name> <test_refs>

where <test_refs> is the word-boundary occurrence count of the name in
src/test (0: nothing calls it at all). Sorted by file and line.

Usage: python3 tools/dead_defs.py   (from anywhere; paths are relative
to the repo root)
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = ["src/main", "perfbench/src"]
TEST = ["src/test"]

DEF = re.compile(
    r"^\s*(?P<mods>(?:(?:final|implicit|override|lazy|inline|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
    r"def\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR = re.compile(r"'(?:\\u[0-9A-Fa-f]{4}|\\.|[^\\'\n])'")


def strip_comments(src):
    """`src` with every `//` and (nested) `/* */` comment removed.

    String and character literals are copied through untouched, so a
    `//` inside a literal is not taken for a comment."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        else:
            m = CHAR.match(src, i) if src[i] == "'" else None
            j = m.end() if m else i + 1
            out.append(src[i:j])
            i = j
    return "".join(out)


def scala_files(dirs):
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(base, f)


def word_counts(dirs):
    counts = Counter()
    for path in scala_files(dirs):
        with open(path, encoding="utf-8") as fh:
            counts.update(WORD.findall(strip_comments(fh.read())))
    return counts


def public_defs():
    for path in scala_files(["src/main"]):
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                m = DEF.match(line)
                if m and not re.search(r"\b(private|override)\b",
                                       m.group("mods")):
                    yield os.path.relpath(path, ROOT), lineno, m.group("name")


def main():
    main_refs = word_counts(MAIN)
    test_refs = word_counts(TEST)
    out = [(f, n, name) for f, n, name in public_defs()
           if main_refs[name] == 1]
    for f, n, name in sorted(out):
        print(f"{f}:{n} {name} {test_refs[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
