#!/usr/bin/env python3
"""Compare two graft.PlanDump directories after normalizing what differs
between any two JVMs: expression, plan and RDD ids, object identity
hashes, lambda class names, memory-sink table names, scratch paths and
source line numbers.

Usage: tools/plan_diff.py <dirA> <suffixA> <dirB> <suffixB>
  e.g. tools/plan_diff.py /tmp/plans before /tmp/plans after
Prints the entries whose normalized plans differ; exits 1 if any do.
"""
import difflib
import os
import re
import sys

RULES = [
    (r'#\d+L?', '#'),
    (r'plan_id=\d+', 'plan_id='),
    (r'\[id=#?\d+\]', '[id=]'),
    (r'RDD\[\d+\]', 'RDD[]'),
    (r'\$Lambda\$\d+/0x[0-9a-f]+', '$Lambda'),
    (r'@[0-9a-f]{4,}', '@'),
    (r'g_[0-9a-f]{32}', 'g_'),
    (r'graft-[a-z]+[-0-9a-zA-Z_.]*', 'graft-tmp'),
    (r'\.scala:\d+', '.scala'),
]


def norm(text):
    for pat, rep in RULES:
        text = re.sub(pat, rep, text)
    return text.splitlines()


def main(dir_a, suf_a, dir_b, suf_b):
    tail_a = f'_{suf_a}.txt'
    names = sorted(f[:-len(tail_a)] for f in os.listdir(dir_a) if f.endswith(tail_a))
    bad = 0
    for n in names:
        path_b = os.path.join(dir_b, f'{n}_{suf_b}.txt')
        if not os.path.exists(path_b):
            print(f'MISSING {n}')
            bad += 1
            continue
        a = norm(open(os.path.join(dir_a, n + tail_a)).read())
        b = norm(open(path_b).read())
        if a != b:
            bad += 1
            print(f'DIFFERS {n}')
            for line in list(difflib.unified_diff(a, b, lineterm='', n=0))[2:12]:
                print('  ' + line)
    print(f'== {len(names) - bad} identical, {bad} differ (of {len(names)}) ==')
    return 1 if bad else 0


if __name__ == '__main__':
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
