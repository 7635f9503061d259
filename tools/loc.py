#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines under src/main.

A line counts when it holds at least one character of code or of a
string literal. Blank lines, `//` comment lines and lines wholly
inside `/* ... */` blocks (scaladoc included; Scala block comments
nest) do not count; a line with code before a trailing comment does.

    python3 tools/loc.py                  # per-file counts and the total
    python3 tools/loc.py --against <rev>  # per-file and total change
                                          # against a git revision

With `--against`, the revision's files are read with `git show`, so the
working tree is compared as it stands, uncommitted edits included.
"""
import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main"


def count(text):
    """Non-blank, non-comment lines of one Scala source."""
    n = 0
    depth = 0          # block-comment nesting depth
    string = None      # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif string:
                code = True
                if string == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(string, i):
                    i += len(string)
                    string = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code, string = True, '"""'
                i += 3
            elif line[i] == '"':
                code, string = True, '"'
                i += 1
            elif line[i] == "'" and line.startswith("'\"'", i):
                code = True   # the char literal '"' opens no string
                i += 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if string == '"':
            string = None   # single-quoted strings end with the line
        n += code
    return n


def git(*args):
    return subprocess.run(("git",) + args, cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def scala_files(names):
    return sorted(p for p in names
                  if p.startswith(SRC + "/") and p.endswith(".scala"))


def working_counts():
    names = []
    for d, _, files in os.walk(os.path.join(ROOT, SRC)):
        names += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out = {}
    for p in scala_files(names):
        with open(os.path.join(ROOT, p), encoding="utf-8") as f:
            out[p] = count(f.read())
    return out


def rev_counts(rev):
    names = git("ls-tree", "-r", "--name-only", rev, "--", SRC).split()
    return {p: count(git("show", f"{rev}:{p}")) for p in scala_files(names)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--against", metavar="REV",
                    help="git revision to compare the working tree with")
    args = ap.parse_args()
    now = working_counts()
    if not args.against:
        for p, n in sorted(now.items()):
            print(f"{n:8d}  {p}")
        print(f"{sum(now.values()):8d}  total")
        return 0
    old = rev_counts(args.against)
    for p in sorted(set(now) | set(old)):
        a, b = old.get(p, 0), now.get(p, 0)
        if a != b:
            print(f"{a:8d} {b:8d} {b - a:+8d}  {p}")
    a, b = sum(old.values()), sum(now.values())
    print(f"{a:8d} {b:8d} {b - a:+8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
