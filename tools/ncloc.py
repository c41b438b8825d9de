#!/usr/bin/env python3
"""Print src/main's non-comment, non-blank Scala line count.

Usage: python3 tools/ncloc.py [ROOT]

ROOT defaults to the repository root (this script's parent directory).
A line counts unless, after leading whitespace, it is empty or starts
with `//`, `/*` or `*`. So scaladoc and block-comment bodies are
skipped, while code with a trailing comment is counted. This is the
measure behind ROADMAP's "net non-comment lines" figures.
"""
import os
import sys

SKIP = ("//", "/*", "*")


def ncloc(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.lstrip().startswith(SKIP))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    total = 0
    for dirpath, _, files in os.walk(src):
        total += sum(ncloc(os.path.join(dirpath, f))
                     for f in files if f.endswith(".scala"))
    print(total)


if __name__ == "__main__":
    main()
