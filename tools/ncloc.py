#!/usr/bin/env python3
"""Count non-comment lines of Scala/Java sources.

A line counts unless it is blank, starts with `//`, or lies in a
`/* ... */` block that starts the line (scaladoc included). Code that
carries a trailing comment counts.

    python3 tools/ncloc.py [dir-or-file ...]    # default: src/main

Prints one `<count> <path>` line per file, then `<total> total`.
"""
import os
import sys


def ncloc(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            n += 1
    return n


def sources(root):
    if os.path.isfile(root):
        yield root
        return
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith((".scala", ".java")):
                yield os.path.join(d, name)


def main(argv):
    roots = argv[1:] or ["src/main"]
    total = 0
    for root in roots:
        for p in sources(root):
            c = ncloc(p)
            total += c
            print(f"{c:6d} {p}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv)
