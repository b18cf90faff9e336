#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the main Scala code.

Line-based: a line does not count when it is blank, starts with `//`,
or lies in a `/* ... */` block comment (the block opens on a line that
starts with `/*` and closes on the line holding `*/`; code after the
closing `*/` on that line counts). Comments trailing code do not make
a line a comment line.

    python3 scripts/loc.py [dir]              # default: src/main/scala
    python3 scripts/loc.py --rev REV [dir]    # REV's count, then the delta

Without --rev it prints one integer: the working tree's count. With
--rev it also counts the tree at git revision REV, read with `git
ls-tree`/`git show` (no checkout), and prints three lines: REV's
count, the working tree's count, and the delta (working tree - REV).
"""
import argparse
import os
import subprocess


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


def count_dir(root):
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def count_rev(rev, root):
    """Count the .scala files under `root` as they are at git `rev`."""
    top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=root,
                         check=True, capture_output=True, text=True).stdout.strip()

    def git(*args):
        return subprocess.run(["git", *args], cwd=top, check=True,
                              capture_output=True).stdout
    prefix = os.path.relpath(os.path.realpath(root), os.path.realpath(top))
    names = git("ls-tree", "-r", "--name-only", rev, "--", prefix).decode().splitlines()
    return sum(code_lines(git("show", f"{rev}:{n}").decode("utf-8"))
               for n in names if n.endswith(".scala"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir", nargs="?", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala"))
    ap.add_argument("--rev", help="git revision to count and compare against")
    args = ap.parse_args()
    now = count_dir(args.dir)
    if args.rev is None:
        print(now)
        return
    then = count_rev(args.rev, args.dir)
    print(f"{args.rev}: {then}")
    print(f"working tree: {now}")
    print(f"delta: {now - then:+d}")


if __name__ == "__main__":
    main()
