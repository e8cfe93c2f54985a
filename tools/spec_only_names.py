#!/usr/bin/env python3
"""Public src/main names that only specs or perfbench use.

    python3 tools/spec_only_names.py

Run from the repository root. A name scan, not a compiler pass: every public
`def`, `val`, `var`, `object`, `class`, `trait` or `type` defined in
src/main/scala (no `private`, `protected` or `override` before it on its line)
is printed when no src/main file mentions its name outside its own
definitions, and src/test/scala or perfbench/src does. Comments do not count as
mentions; string literals do, since interpolations hold code. A name shared by
two definitions counts as used when either is used, so the scan can miss dead
code but never flags a name that main code mentions.

An object with a `main` method is an entry point: neither it nor `main` is
printed. Names kept on purpose go in ALLOW, as `Owner.name` (Owner is the
enclosing top-level object, class or trait) or as a bare `name`. Prints one line
per remaining name, `path:line: Owner.name (test|perfbench)`, and exits 1 if it
printed any.
"""
import collections
import os
import re
import sys

# Reference-parity API (index4j's FmIndex and suffixarray/SuffixArray surface) and
# test hooks: public on purpose, called only by specs.
ALLOW = {
    "FmIndex.convertBytePatternToCharPattern",
    "FmIndex.getInputLength",
    "setEnableExtraction",
    "RrrVector.fromBits",
    "SuffixArraySearch.SuffixArraySearch",
    "ShardCache.entryCount",
    "ManifestTables.tryWriteSnapshot",
}

DEF = re.compile(r"(?<![\w.])(def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)")
HIDDEN = re.compile(r"\b(private|protected|override)\b")
WORD = re.compile(r"[A-Za-z_]\w*")


def strip_comments(src):
    """`src` with comments blanked out (line breaks kept), strings kept."""
    out = []
    i, n = 0, len(src)
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
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...x"""" closes on the last quotes
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(src[i:j + 1])
            i = j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def word_counts(paths):
    counts = collections.Counter()
    for p in paths:
        with open(p, encoding="utf-8") as f:
            counts.update(WORD.findall(strip_comments(f.read())))
    return counts


def public_defs(path):
    """(line, owner, name) for each public definition in one main file."""
    with open(path, encoding="utf-8") as f:
        lines = strip_comments(f.read()).split("\n")
    owner = ""
    for no, line in enumerate(lines, 1):
        for m in DEF.finditer(line):
            kind, name = m.groups()
            if kind in ("object", "class", "trait") and not line[:1].isspace():
                owner = name
            if not HIDDEN.search(line[:m.start()]):
                yield no, owner, name


def main():
    main_files = list(scala_files("src/main/scala"))
    defs = [(p, no, owner, name) for p in main_files for no, owner, name in public_defs(p)]
    defined = collections.Counter(name for _, _, _, name in defs)
    entry = {owner for _, _, owner, name in defs if name == "main"}
    in_main = word_counts(main_files)
    users = [("test", word_counts(scala_files("src/test/scala"))),
             ("perfbench", word_counts(scala_files("perfbench/src")))]
    hits = []
    for p, no, owner, name in defs:
        if (in_main[name] > defined[name] or name in entry | {"main"}
                or name in ALLOW or f"{owner}.{name}" in ALLOW):
            continue
        by = [who for who, counts in users if counts[name]]
        if by:
            hits.append(f"{p}:{no}: {owner}.{name} ({'|'.join(by)})")
    for h in hits:
        print(h)
    return 1 if hits else 0


if __name__ == "__main__":
    sys.exit(main())
