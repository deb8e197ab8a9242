#!/usr/bin/env python3
"""Repeated-window census of the Scala sources.

Usage: python3 tools/dupwin.py [ROOT] [--runs]

ROOT defaults to src/main/scala of this checkout. Each .scala file is read
as a list of code lines: every line is stripped of surrounding whitespace,
and blank lines and comment lines (starting with //, /*, * or */) are
dropped. A window is 6 consecutive code lines whose stripped lengths sum to
at least 150 characters. A window that occurs two or more times anywhere
under ROOT is repeated. Occurrences are ordered by (path, line); the first
is the original and every later one is a copy.

Per file it prints:
  copy_lines   code lines inside any occurrence of a repeated window
  second_lines code lines inside a second-or-later occurrence
and a total line. --runs also lists each maximal run of second-copy lines
(file, first and last source line, length) to point at what to fold.
"""
import os
import sys
from collections import defaultdict

WINDOW = 6
MIN_CHARS = 150


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if not s or s.startswith(("//", "/*", "*")):
                continue
            out.append((no, s))
    return out


def census(root):
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                files[os.path.relpath(p, root)] = code_lines(p)
    occ = defaultdict(list)  # window text -> [(file, start index)]
    for rel in sorted(files):
        lines = files[rel]
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(s for _, s in lines[i:i + WINDOW])
            if sum(map(len, win)) >= MIN_CHARS:
                occ[win].append((rel, i))
    any_copy = defaultdict(set)
    later = defaultdict(set)
    for places in occ.values():
        if len(places) < 2:
            continue
        for k, (rel, i) in enumerate(places):
            span = range(i, i + WINDOW)
            any_copy[rel].update(span)
            if k > 0:
                later[rel].update(span)
    return files, any_copy, later


def runs(idx):
    out, start, prev = [], None, None
    for i in sorted(idx):
        if start is None:
            start = prev = i
        elif i == prev + 1:
            prev = i
        else:
            out.append((start, prev))
            start = prev = i
    if start is not None:
        out.append((start, prev))
    return out


def main(argv):
    show_runs = "--runs" in argv
    args = [a for a in argv if a != "--runs"]
    root = args[0] if args else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    files, any_copy, later = census(root)
    total_any = total_later = 0
    print(f"{'file':60s} {'copy_lines':>10s} {'second_lines':>12s}")
    for rel in sorted(files, key=lambda r: (-len(later[r]), -len(any_copy[r]), r)):
        if not any_copy[rel]:
            continue
        total_any += len(any_copy[rel])
        total_later += len(later[rel])
        print(f"{rel:60s} {len(any_copy[rel]):10d} {len(later[rel]):12d}")
    print(f"{'TOTAL':60s} {total_any:10d} {total_later:12d}")
    if show_runs:
        for rel in sorted(later):
            lines = files[rel]
            for a, b in runs(later[rel]):
                print(f"  {rel}:{lines[a][0]}-{lines[b][0]} ({b - a + 1} lines)")


if __name__ == "__main__":
    main(sys.argv[1:])
