#!/usr/bin/env python3
"""Find repeated runs of code lines under src/main.

A run is a stretch of at least MIN_RUN (6) consecutive code lines
(non-blank, not comments, leading/trailing whitespace ignored) that
occurs identically in two or more places. Each maximal run is printed
once, largest first, with every place it occurs as file:line (the line
of the run's first code line):

    python3 tools/dup_runs.py [--top 15]

It scans src/main next to this script. Stdlib only.
"""

import argparse
import os
import sys
from collections import defaultdict

SOURCE_EXT = (".scala", ".java")
MIN_RUN = 6


def code_lines(path):
    """(line number, stripped text) of each code line of one file."""
    out = []
    in_block = False
    with open(path, encoding="utf-8", errors="replace") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if in_block:
                if "*/" not in line:
                    continue
                in_block = False
                line = line.split("*/", 1)[1].strip()
            if line.startswith("/*"):
                if "*/" not in line:
                    in_block = True
                    continue
                line = line.split("*/", 1)[1].strip()
            if not line or line.startswith("//"):
                continue
            out.append((no, line))
    return out


def sources(root):
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(SOURCE_EXT):
                yield os.path.join(d, n)


def runs(files, k):
    """Maximal runs of >= k equal code lines shared by two places.

    Returns {(length, first text, ...): set of (file, index)}: places
    are grouped by the run's text, so a run copied three times prints
    once with three places.
    """
    windows = defaultdict(list)
    for f, lines in files.items():
        texts = [t for _, t in lines]
        for i in range(len(texts) - k + 1):
            windows[tuple(texts[i:i + k])].append((f, i))
    found = defaultdict(set)
    for places in windows.values():
        if len(places) < 2:
            continue
        for a in range(len(places)):
            for b in range(a + 1, len(places)):
                (fa, ia), (fb, ib) = places[a], places[b]
                ta = [t for _, t in files[fa]]
                tb = [t for _, t in files[fb]]
                # start of a maximal run only: the lines before differ
                if ia > 0 and ib > 0 and ta[ia - 1] == tb[ib - 1]:
                    continue
                n = k
                while (ia + n < len(ta) and ib + n < len(tb)
                       and ta[ia + n] == tb[ib + n]):
                    n += 1
                if fa == fb and abs(ia - ib) < n:
                    continue  # a run overlapping itself
                key = tuple(ta[ia:ia + n])
                found[key].update({(fa, ia), (fb, ib)})
    return found


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--top", type=int, default=0,
                   help="print only the N largest runs (default all)")
    a = p.parse_args(argv)
    files = {f: code_lines(f)
             for f in sources(os.path.join(here, "..", "src", "main"))}
    found = runs(files, MIN_RUN)
    base = os.path.join(here, "..")
    rows = []
    for key, places in found.items():
        locs = sorted("%s:%d" % (os.path.relpath(f, base), files[f][i][0])
                      for f, i in places)
        rows.append((len(key), locs))
    rows.sort(key=lambda r: (-r[0], r[1]))
    if a.top:
        rows = rows[:a.top]
    for n, locs in rows:
        print("%3d  %s" % (n, "  ".join(locs)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
