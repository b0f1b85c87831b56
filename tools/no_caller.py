#!/usr/bin/env python3
"""List every `def` and `object` under src/main that nothing references.

A name counts as referenced when it appears, outside comments and
string literals, anywhere in src/main, perfbench/src or tools other than
at its own definition (the `$name` / `${...}` splices of an interpolated
Scala string are code, so they count).
Matching is by name only, so an overloaded or shared name is referenced
when any use of that name exists. `implicit` and `override` members are
skipped: the compiler or a supertype calls them. Symbolic names are
skipped too.

Report only: prints `path:line  kind name` per entry, sorted, then a
count and the main-code size (every line of every `.scala` file under
src/main), and always exits 0.

    python3 tools/no_caller.py            # from the repository root
"""
import os
import re
import sys

ROOTS = ["src/main", "perfbench/src", "tools"]
DEF = re.compile(r"\b(def|object)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def splice_end(text, i):
    """Index just past the `}` closing the `${` that starts at `i`."""
    depth, j = 1, i + 2
    while j < len(text) and depth:
        depth += {"{": 1, "}": -1}.get(text[j], 0)
        j += 1
    return j


def blank_string(lit, interpolated):
    """String literal `lit` (quotes included) with its text blanked
    (newlines kept). An interpolated literal keeps its `$name` and
    `${...}` splices, themselves stripped: they are code."""
    out, i, n = [], 0, len(lit)
    while i < n:
        if interpolated and lit.startswith("${", i):
            j = splice_end(lit, i)
            out.append(strip_scala(lit[i:j]))
            i = j
            continue
        m = re.match(r"\$[A-Za-z_][A-Za-z0-9_]*", lit[i:]) if interpolated else None
        if m:
            out.append(m.group(0))
            i += len(m.group(0))
            continue
        out.append(lit[i] if lit[i] in '"\n' else " ")
        i += 1
    return "".join(out)


def strip_scala(text):
    """`text` with comments blanked out and string literals blanked
    except for the `$name` / `${...}` splices of interpolated ones
    (newlines kept, so line numbers hold); character literals are
    kept."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
        if text.startswith('"""', i):
            j = i + 3
            while j < n and not text.startswith('"""', j):
                j = splice_end(text, j) if interpolated and text.startswith("${", j) else j + 1
            j = n if j >= n else j + 3
            while j < n and text[j] == '"':  # """...""""" closes on the last quote
                j += 1
            out.append(blank_string(text[i:j], interpolated))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                if interpolated and text.startswith("${", j):
                    j = splice_end(text, j)
                else:
                    j += 2 if text[j] == "\\" else 1
            out.append(blank_string(text[i:j + 1], interpolated))
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 8]):
            j = text.index("'", i + 2 if text[i + 1] != "\\" else i + 3)
            out.append(text[i:j + 1])
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2  # Scala block comments nest
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_other(text):
    """`text` with `#` line comments blanked out (python, shell)."""
    return re.sub(r"(?m)^\s*#.*$", "", text)


def sources():
    for root in ROOTS:
        for d, _, files in os.walk(root):
            for f in sorted(files):
                p = os.path.join(d, f)
                if f.endswith(".scala"):
                    yield p, strip_scala(open(p, encoding="utf-8").read())
                elif f.endswith((".py", ".sh")):
                    yield p, strip_other(open(p, encoding="utf-8").read())


def main():
    main_lines = 0
    for d, _, files in os.walk("src/main"):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    main_lines += sum(1 for _ in fh)
    code = dict(sources())
    uses = {}
    for text in code.values():
        for w in WORD.findall(text):
            uses[w] = uses.get(w, 0) + 1
    defs, n_defs = [], {}
    for p, text in code.items():
        if not (p.startswith("src/main") and p.endswith(".scala")):
            continue
        for lineno, line in enumerate(text.split("\n"), 1):
            for m in DEF.finditer(line):
                name = m.group(2)
                n_defs[name] = n_defs.get(name, 0) + 1
                if not re.search(r"\b(implicit|override)\b", line[:m.start()]):
                    defs.append((p, lineno, m.group(1), name))
    # every definition site of a name is one of its occurrences
    unused = [d for d in defs if uses.get(d[3], 0) <= n_defs[d[3]]]
    for p, lineno, kind, name in sorted(unused):
        print(f"{p}:{lineno}  {kind} {name}")
    print(f"{len(unused)} of {len(defs)} defs/objects have no reference", file=sys.stderr)
    print(f"main code: {main_lines} lines", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
