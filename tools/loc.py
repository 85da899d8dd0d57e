#!/usr/bin/env python3
"""Line counts of the Scala sources under src/main.

    python3 tools/loc.py [--files] [root]

Prints the total line count and the code-only count: lines that are neither
blank nor comment-only (a line whose first non-blank characters open or
continue a comment: `//`, `/*`, `*`). `--files` adds one line per file,
largest code-only count first. Files are read as text with undecodable bytes
replaced, so sources that embed binary-looking literals count like any other.
"""
import os
import sys


def counts(path):
    total = code = 0
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return total, code


def main(argv):
    per_file = "--files" in argv
    args = [a for a in argv if a != "--files"]
    root = args[0] if args else os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    rows = []
    for d, _, files in os.walk(src):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((os.path.relpath(p, src),) + counts(p))
    if per_file:
        for rel, total, code in sorted(rows, key=lambda r: (-r[2], r[0])):
            print(f"{total:7d} {code:7d}  {rel}")
    print(f"src/main: {sum(r[1] for r in rows)} lines, {sum(r[2] for r in rows)} code-only")


if __name__ == "__main__":
    main(sys.argv[1:])
