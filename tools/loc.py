#!/usr/bin/env python3
"""Line count of a source tree by kind: code, comment and blank.

Usage: python3 tools/loc.py [root]   (default: src/main, relative to the repo)

A line is blank when it holds only whitespace. It is a comment when,
stripped, it starts with `//` or `/*`, or when it lies inside a block
comment (the lines after a `/*` up to and including the one that closes
it). Every other line is code. Counts every `.scala` and `.java` file
under the root; prints one line per kind and the total.
"""
import os
import sys


def classify(lines):
    code = comment = blank = 0
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block:
            comment += 1
            if "*/" in s:
                in_block = False
        elif not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            in_block = "*/" not in s[2:]
        else:
            code += 1
    return code, comment, blank


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main")
    totals = [0, 0, 0]
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith((".scala", ".java")):
                with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                    for i, n in enumerate(classify(f)):
                        totals[i] += n
    code, comment, blank = totals
    print(f"code     {code}")
    print(f"comment  {comment}")
    print(f"blank    {blank}")
    print(f"total    {code + comment + blank}")


if __name__ == "__main__":
    main()
