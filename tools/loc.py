#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per file and in total.

A comment line is a line whose code starts with `//`, or a line inside
a `/* ... */` block (the lines that open and close the block included,
unless code stands outside it on the same line). Strings are not
parsed: a `/*` inside a string literal counts as a comment start.

    python3 tools/loc.py src/main                      # per file + total
    python3 tools/loc.py src/main --against ../parent

With `--against OTHER_CHECKOUT` the same relative tree is counted in the
other checkout too, and each file's delta (this tree minus the other;
files on one side only count as 0 on the other) and the total delta are
printed. Paths are relative to the current directory.
"""
import argparse
import os
import sys


def code_lines(text):
    """Non-blank lines holding code outside // and /* */ comments."""
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line.strip()
        code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:].strip()
            elif rest.startswith("//"):
                rest = ""
            elif rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
            else:
                code = True
                start = rest.find("/*")
                # a trailing block comment may hide no further code
                rest = "" if start < 0 else rest[start:]
        if code:
            n += 1
    return n


def count_tree(root, rel):
    """{relative path: code lines} for every .scala file under root/rel."""
    out = {}
    for d, dirs, files in os.walk(os.path.join(root, rel)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8", errors="replace") as f:
                    out[os.path.relpath(path, root)] = code_lines(f.read())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("tree", help="directory to count, relative to the cwd")
    ap.add_argument("--against", metavar="OTHER_CHECKOUT",
                    help="also count TREE in this checkout and print deltas")
    a = ap.parse_args()
    here = count_tree(".", a.tree)
    if not here:
        sys.exit(f"no .scala files under {a.tree}")
    if a.against is None:
        for path, n in sorted(here.items()):
            print(f"{n:7d}  {path}")
        print(f"{sum(here.values()):7d}  total ({len(here)} files)")
        return
    there = count_tree(a.against, a.tree)
    for path in sorted(set(here) | set(there)):
        n, m = here.get(path, 0), there.get(path, 0)
        if n != m:
            print(f"{n - m:+7d}  {m:6d} -> {n:6d}  {path}")
    t, u = sum(here.values()), sum(there.values())
    print(f"{t - u:+7d}  {u:6d} -> {t:6d}  total")


if __name__ == "__main__":
    main()
