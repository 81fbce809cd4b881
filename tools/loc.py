#!/usr/bin/env python3
"""Count lines of code under a source tree (default: src/main).

A line counts when it is not blank, is not a `//` comment line, and is
not inside a `/* ... */` block comment once block comments are removed.
String literals are not parsed, so a `/*` inside a string opens a
comment; no file under src/main does that.

    python3 tools/loc.py            # total for src/main
    python3 tools/loc.py -v [DIR]   # per-file counts, then the total
"""
import os
import sys

EXTS = (".scala", ".java")


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            code = []
            i = 0
            while i < len(line):
                if in_block:
                    j = line.find("*/", i)
                    if j < 0:
                        break
                    in_block = False
                    i = j + 2
                else:
                    j = line.find("/*", i)
                    if j < 0:
                        code.append(line[i:])
                        break
                    code.append(line[i:j])
                    in_block = True
                    i = j + 2
            text = "".join(code).strip()
            if text and not text.startswith("//"):
                n += 1
    return n


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else "src/main"
    total = 0
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith(EXTS):
                path = os.path.join(dirpath, name)
                n = count(path)
                total += n
                if verbose:
                    print(f"{n:7d} {path}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
