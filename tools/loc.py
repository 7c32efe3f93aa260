#!/usr/bin/env python3
"""Line counts of the Scala sources.

    python3 tools/loc.py [--repo DIR] [FILE ...]
    python3 tools/loc.py [--repo DIR] --dups N [PACKAGE_DIR ...]

Prints, for `src/main`, `src/test` and each package directory under
them, the number of code lines (non-blank, non-comment) and the total
number of lines of its `.scala` files. A line is a comment when it
starts with `//` or lies inside a `/* ... */` block; a line that
closes a block and carries code after the `*/` counts as code. A
package directory's figures cover only the files directly in it.
`--repo` names the checkout to count (default: the one this script
sits in). Given FILEs (paths relative to the checkout), it prints the
same two figures for each of them instead.

`--dups N` reports copied code instead: every block of N or more code
lines (compared stripped) that occurs again later in the same package
directory, across its files or within one. Each pair prints as the
first copy's `file:line`, the later copy's `file:line` and the block's
length in code lines; a block extends as far as both copies agree and
stops at a file's end. The closing total counts the code lines that lie
in some later copy, each line once. PACKAGE_DIRs (relative to the
checkout) limit the report to those directories; by default it covers
every package directory under `src/main`.
"""
import argparse
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("src/main", "src/test")


def code_lines(path):
    """(line number, stripped code) of each code line of one Scala file,
    and the file's total number of lines."""
    lines = []
    total = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for total, line in enumerate(f, 1):
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
            lines.append((total, s))
    return lines, total


def count(path):
    """(code, total) lines of one Scala file."""
    lines, total = code_lines(path)
    return len(lines), total


def dups(d, n):
    """Pairs (first, later, length) of repeated blocks of at least `n`
    code lines among the `.scala` files directly in directory `d`, where
    `first` and `later` are (file, line number); and the number of code
    lines inside some later copy."""
    files = sorted(f for f in os.listdir(d) if f.endswith(".scala"))
    pos, text = [], []  # (file, line number, lines left in the file)
    for f in files:
        lines, _ = code_lines(os.path.join(d, f))
        for k, (no, s) in enumerate(lines):
            pos.append((f, no, len(lines) - k))
            text.append(s)
    windows = {}
    for i in range(len(text)):
        if pos[i][2] >= n:
            windows.setdefault(tuple(text[i:i + n]), []).append(i)
    pairs, copied = [], set()
    for starts in windows.values():
        for a, i in enumerate(starts):
            for j in starts[a + 1:]:
                if j - i < n:
                    continue  # the copies overlap
                if i and pos[i - 1][0] == pos[i][0] and \
                        pos[j - 1][0] == pos[j][0] and text[i - 1] == text[j - 1]:
                    continue  # counted from where the copies start
                k = n
                limit = min(pos[i][2], pos[j][2], j - i)
                while k < limit and text[i + k] == text[j + k]:
                    k += 1
                pairs.append(((pos[i][0], pos[i][1]),
                              (pos[j][0], pos[j][1]), k))
                copied.update(range(j, j + k))
    return sorted(pairs), len(copied)


def report_dups(args):
    dirs = [os.path.join(args.repo, f) for f in args.files] or sorted(
        d for d, _, fs in os.walk(os.path.join(args.repo, "src/main"))
        if any(f.endswith(".scala") for f in fs))
    for d in dirs:
        pairs, copied = dups(d, args.dups)
        name = os.path.relpath(d, args.repo)
        for (f1, l1), (f2, l2), k in pairs:
            print(f"{name}  {f1}:{l1}  {f2}:{l2}  {k}")
        print(f"{name}  {len(pairs)} pairs, {copied:,} repeated lines "
              f"(blocks of {args.dups}+)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=ROOT)
    ap.add_argument("--dups", type=int, metavar="N")
    ap.add_argument("files", nargs="*")
    args = ap.parse_args()
    if args.dups:
        report_dups(args)
        return
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
