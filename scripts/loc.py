#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the main Scala code.

Line-based: a line does not count when it is blank, starts with `//`,
or lies in a `/* ... */` block comment (the block opens on a line that
starts with `/*` and closes on the line holding `*/`; code after the
closing `*/` on that line counts). Comments trailing code do not make
a line a comment line.

    python3 scripts/loc.py [dir]     # default: src/main/scala

Prints one integer.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                if s.split("*/", 1)[1].strip():
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            if "*/" in s[2:]:
                if s[2:].split("*/", 1)[1].strip():
                    n += 1
            else:
                in_block = True
            continue
        n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    print(total)


if __name__ == "__main__":
    main()
