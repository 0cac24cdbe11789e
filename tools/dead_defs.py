#!/usr/bin/env python3
"""List public defs in src/main that nothing outside the tests names.

For every `def` in src/main/**/*.scala that is not `private`,
`private[...]` or an `override`, count the word-boundary occurrences
of its name across src/main and perfbench/src, with `//` and `/* */`
comments (scaladoc included) stripped first: a name that appears only
in prose calls nothing. Plain string-literal text is dropped too (a
name in an error message calls nothing), while the `$name` and
`${...}` parts of interpolated literals count, because
`s"${f(x)}"` calls `f`. A name that occurs exactly once is named
only by its own definition: the def is reachable from the tests at
most. A def whose name occurs elsewhere only inside the bodies of
listed defs is listed too, repeated until nothing is added (a body runs
to the next line indented no deeper than its def). Each such def
prints as

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
    """`src` with every `//` and (nested) `/* */` comment removed and
    every string literal reduced to the code it interpolates.

    A plain literal calls nothing, so its text is dropped. An
    interpolated one (`s"…"`, `f"…"`, `raw"…"`, …) keeps the names of
    its `$name` and `${…}` parts, the latter stripped in turn, so a
    `//` or a def's name inside literal text is taken for neither a
    comment nor a use."""
    return _code(src, 0, nested=False)[0]


def _code(src, i, nested):
    """Strip code from `i`; with `nested`, stop after the `}` that closes
    an interpolation's `${`. Returns (stripped, next index)."""
    out, n, depth = [], len(src), 0
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            start, depth_c, i = i, 1, i + 2
            while i < n and depth_c:
                if src.startswith("/*", i):
                    depth_c, i = depth_c + 1, i + 2
                elif src.startswith("*/", i):
                    depth_c, i = depth_c - 1, i + 2
                else:
                    i += 1
            out.append("\n" * src.count("\n", start, i))
        elif c == '"':
            interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            text, i = _literal(src, i, interpolated)
            out.append(text)
        elif c == "'" and CHAR.match(src, i):
            m = CHAR.match(src, i)
            out.append(m.group())
            i = m.end()
        else:
            if nested and c == "}":
                if depth == 0:
                    return "".join(out), i + 1
                depth -= 1
            elif nested and c == "{":
                depth += 1
            out.append(c)
            i += 1
    return "".join(out), i


def _literal(src, i, interpolated):
    """The string literal opening at `i`: blank when plain, else the
    space-joined code of its interpolations, followed by the newlines
    it spans. Returns (text, end)."""
    n, start = len(src), i
    triple = src.startswith('"""', i)
    i += 3 if triple else 1
    parts = []
    while i < n:
        if triple and src.startswith('"""', i):
            i += 3
            while i < n and src[i] == '"':
                i += 1
            break
        if not triple and src[i] in '"\n':
            i += src[i] == '"'
            break
        if interpolated and src.startswith("$$", i):
            i += 2
        elif interpolated and src.startswith("${", i):
            code, i = _code(src, i + 2, nested=True)
            parts.append(code)
        elif interpolated and src[i] == "$":
            m = WORD.match(src, i + 1)
            if m:
                parts.append(m.group())
                i = m.end()
            else:
                i += 1
        elif not triple and src[i] == "\\":
            i += 2
        else:
            i += 1
    text = " " + " ".join(parts) + " "
    return text + "\n" * src.count("\n", start, i), i


def scala_files(dirs):
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(base, f)


def stripped_lines(dirs):
    """{path: the file's comment- and literal-stripped lines}."""
    out = {}
    for path in scala_files(dirs):
        with open(path, encoding="utf-8") as fh:
            out[path] = strip_comments(fh.read()).split("\n")
    return out


def word_counts(files):
    counts = Counter()
    for lines in files.values():
        for line in lines:
            counts.update(WORD.findall(line))
    return counts


def public_defs(files):
    """(path, index of the def line, name, extent of its body) for every
    public def; the body runs to the next line indented no deeper than
    the def that is not a closing bracket."""
    for path, lines in files.items():
        for i, line in enumerate(lines):
            m = DEF.match(line)
            if not m or re.search(r"\b(private|override)\b", m.group("mods")):
                continue
            indent = len(line) - len(line.lstrip())
            j = i + 1
            while j < len(lines):
                t = lines[j].lstrip()
                if t and (len(lines[j]) - len(t) < indent
                          or len(lines[j]) - len(t) == indent
                          and t[0] not in "})"):
                    break
                j += 1
            yield path, i, m.group("name"), range(i, j)


def main():
    files = stripped_lines(["src/main"])
    main_refs = word_counts(stripped_lines(MAIN))
    test_refs = word_counts(stripped_lines(TEST))
    defs = list(public_defs(files))
    # fixed point: a name used only inside the bodies of listed defs
    # (and its own definition) is dead too
    dead, grew = set(), True
    while grew:
        in_dead = {(d[0], i) for d in defs if d in dead for i in d[3]}
        dead_refs = Counter()
        for path, i in in_dead:
            dead_refs.update(WORD.findall(files[path][i]))
        new = {d for d in defs if d not in dead and (d[0], d[1]) not in in_dead
               and main_refs[d[2]] - dead_refs[d[2]] == 1}
        dead |= new
        grew = bool(new)
    for path, i, name, _ in sorted(dead, key=lambda d: (d[0], d[1])):
        print(f"{os.path.relpath(path, ROOT)}:{i + 1} {name} {test_refs[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
