#!/usr/bin/env python3
"""List public member defs/vals of src/main that nothing references.

A name is reported when it is declared as a public (or package-qualified
`private[pkg]`) `def`, `val`, `var` or `lazy val` member of an object,
class or trait under src/main/scala, and
the word appears nowhere in src/ or perfbench/src outside its own
declarations (comments do not count as references; string literals do,
so interpolations and messages keep a name alive). `main`, `apply`,
overrides and implicits are never reported: they are called without
their name being written.

Usage (from the repository root):
    python3 tools/unreferenced_defs.py
Prints one `path:line: name` per unreferenced declaration, nothing when
there is none; exits 1 when it printed anything.
"""
import collections
import os
import re
import sys

ROOTS = ["src", os.path.join("perfbench", "src")]
MAIN = os.path.join("src", "main", "scala")
EXCLUDED = {"main", "apply"}
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DECL = re.compile(
    r"^\s*((?:[a-z]+(?:\[[^\]]*\])?\s+)*)(?:def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(r"\b(?:object|class|trait)\s+[A-Za-z_]")
HIDDEN = {"private", "protected", "override", "implicit"}


def lex(text):
    """Return (code, shape): `code` is the text without comments; `shape`
    additionally blanks string and char literals. Both keep every newline,
    so line numbers line up with the source."""
    code, shape = [], []
    i, n = 0, len(text)

    def emit(chunk, in_string):
        code.append(chunk)
        shape.append(chunk if not in_string else re.sub(r"[^\n]", " ", chunk))

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            newlines = text.count("\n", i, j)
            emit("\n" * newlines, False)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            emit(text[i:j], True)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            emit(text[i:j + 1], True)
            i = j + 1
        elif c == "'" and re.match(r"'(?:\\.|[^\\'\n])'", text[i:i + 4]):
            j = text.index("'", i + 2 if text[i + 1] == "\\" else i + 1) + 1
            emit(text[i:j], True)
            i = j
        else:
            emit(c, False)
            i += 1
    return "".join(code), "".join(shape)


def member_decls(shape):
    """(line, name) of every public member declaration in `shape`: a
    def/val/var at paren depth 0 whose innermost enclosing brace opens a
    named object, class or trait body."""
    decls = []
    stack = []  # per open brace: does it open a template body?
    header = ""  # the statement text before the next brace
    parens = 0
    lines = shape.split("\n")
    for lineno, line in enumerate(lines, 1):
        if parens == 0 and stack and stack[-1]:
            m = DECL.match(line)
            if m and not HIDDEN & set(m.group(1).split()):
                decls.append((lineno, m.group(2)))
        for ch in line:
            if ch in "([":
                parens += 1
            elif ch in ")]":
                parens = max(0, parens - 1)
            if ch == "{":
                stack.append(bool(TEMPLATE.search(header)))
                header = ""
            elif ch in "};":
                if ch == "}" and stack:
                    stack.pop()
                header = ""
            else:
                header += ch
        # a statement ends at a newline outside parentheses unless the
        # next line continues it (`extends`, `with`, or the opening brace)
        nxt = next((l for l in lines[lineno:] if l.strip()), "")
        if parens == 0 and not re.match(r"\s*(?:extends\b|with\b|\{)", nxt):
            header = ""
    return decls


def main():
    counts = collections.Counter()
    decls = []
    for root in ROOTS:
        for dirpath, _, files in os.walk(root):
            for f in sorted(files):
                if not f.endswith(".scala"):
                    continue
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    code, shape = lex(fh.read())
                counts.update(WORD.findall(code))
                if path.startswith(MAIN + os.sep):
                    decls += [(path, ln, name) for ln, name in member_decls(shape)
                              if name not in EXCLUDED]
    declared = collections.Counter(name for _, _, name in decls)
    dead = [d for d in decls if counts[d[2]] <= declared[d[2]]]
    for path, ln, name in sorted(dead):
        print(f"{path}:{ln}: {name}")
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
