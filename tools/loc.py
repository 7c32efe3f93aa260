#!/usr/bin/env python3
"""Line counts of the Scala sources.

    python3 tools/loc.py [--repo DIR] [FILE ...]

Prints, for `src/main`, `src/test` and each package directory under
them, the number of code lines (non-blank, non-comment) and the total
number of lines of its `.scala` files. A line is a comment when it
starts with `//` or lies inside a `/* ... */` block; a line that
closes a block and carries code after the `*/` counts as code. A
package directory's figures cover only the files directly in it.
`--repo` names the checkout to count (default: the one this script
sits in). Given FILEs (paths relative to the checkout), it prints the
same two figures for each of them instead.
"""
import argparse
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("src/main", "src/test")


def count(path):
    """(code, total) lines of one Scala file."""
    code = total = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            total += 1
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                rest = s[2:]
                if "*/" not in rest:
                    in_block = True
                    continue
                s = rest.split("*/", 1)[1].strip()
                if not s or s.startswith("//"):
                    continue
            code += 1
    return code, total


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=ROOT)
    ap.add_argument("files", nargs="*")
    args = ap.parse_args()
    rows = []
    for f in args.files:
        rows.append((f, *count(os.path.join(args.repo, f))))
    for tree in () if args.files else TREES:
        base = os.path.join(args.repo, tree)
        tree_code = tree_total = 0
        pkgs = []
        for d, _, files in sorted(os.walk(base)):
            scala = sorted(f for f in files if f.endswith(".scala"))
            if not scala:
                continue
            code = total = 0
            for f in scala:
                c, t = count(os.path.join(d, f))
                code += c
                total += t
            pkgs.append((os.path.relpath(d, args.repo), code, total))
            tree_code += code
            tree_total += total
        rows.append((tree, tree_code, tree_total))
        rows.extend(("  " + p, c, t) for p, c, t in pkgs)
    width = max(len(r[0]) for r in rows)
    print(f"{'':{width}}  {'code':>7}  {'total':>7}")
    for name, code, total in rows:
        print(f"{name:{width}}  {code:>7,}  {total:>7,}")


if __name__ == "__main__":
    main()
