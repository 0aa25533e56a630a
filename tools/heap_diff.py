#!/usr/bin/env python3
"""Diff two `jmap -histo:live <pid>` dumps of one JVM, taken at two points
of a run: prints the top-N classes by byte growth and by instance growth.

Usage: tools/heap_diff.py <before.histo> <after.histo> [N=15]
  e.g. jmap -histo:live $PID > /tmp/h1; ...; jmap -histo:live $PID > /tmp/h2
       tools/heap_diff.py /tmp/h1 /tmp/h2
A class absent from one dump counts as zero instances there.
"""
import re
import sys

ROW = re.compile(r'^\s*\d+:\s+(\d+)\s+(\d+)\s+(\S+)')


def histo(path):
    """{class: (instances, bytes)} from one histogram."""
    with open(path) as f:
        return {m.group(3): (int(m.group(1)), int(m.group(2)))
                for m in map(ROW.match, f) if m}


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    a, b = histo(argv[1]), histo(argv[2])
    top = int(argv[3]) if len(argv) == 4 else 15
    rows = [(c, a.get(c, (0, 0)), b.get(c, (0, 0))) for c in set(a) | set(b)]
    for title, col in (("bytes", 1), ("instances", 0)):
        print(f"top {top} by {title} delta:")
        print(f"{'delta':>12} {'before':>12} {'after':>12}  class")
        for c, x, y in sorted(rows, key=lambda r: r[1][col] - r[2][col])[:top]:
            print(f"{y[col] - x[col]:>+12} {x[col]:>12} {y[col]:>12}  {c}")


if __name__ == "__main__":
    main(sys.argv)
