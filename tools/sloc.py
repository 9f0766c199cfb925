#!/usr/bin/env python3
"""Count source lines of Scala code.

    python3 tools/sloc.py <path>...

Prints, for each path (a directory or a single file), the number of
non-blank, non-comment lines in the `.scala` files under it, then a total
when more than one path is given. A line is a comment line when it starts
with `//` or lies inside a block comment (`/* ... */`, which includes
scaladoc `/** ... */`). Only block comments that open at the start of a
line are recognised, so a `/*` inside a string literal (a glob such as
"dir/*.parquet") never hides code; a line with code before a trailing
comment counts as code.
"""
import os
import sys


def scala_files(path):
    if os.path.isfile(path):
        return [path] if path.endswith(".scala") else []
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files)
                  if f.endswith(".scala")]
    return found


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                end = line.find("*/")
                if end < 0:
                    continue
                in_block = False
                line = line[end + 2:].strip()
            elif line.startswith("/*"):
                end = line.find("*/", 2)
                if end < 0:
                    in_block = True
                    continue
                line = line[end + 2:].strip()
            if line and not line.startswith("//"):
                n += 1
    return n


def main(paths):
    if not paths:
        sys.exit("usage: sloc.py <path>...")
    total = 0
    for p in paths:
        if not os.path.exists(p):
            sys.exit(f"sloc.py: no such path: {p}")
        n = sum(count_file(f) for f in scala_files(p))
        total += n
        print(f"{n}\t{p}")
    if len(paths) > 1:
        print(f"{total}\ttotal")


if __name__ == "__main__":
    main(sys.argv[1:])
