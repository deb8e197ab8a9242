#!/usr/bin/env python3
"""Compare two graft.Explain dumps query by query.

Usage: python3 tools/plandiff.py A.txt B.txt [q1,q2,...] [-v]

Each dump is the stdout of `tools/run.sh Explain <names...>` (one
`===== name =====` header per query). Before comparing, the tokens that
change from run to run are masked: expression ids (`#12`), `plan_id=N`,
lambda class names with their hash (`Foo$$Lambda/0x…@1a2b`), array
literal identities (`[F@1a2b`), call-site line numbers of RDD origins
(`at Foo.scala:87`), temp paths and RDD ids. Prints the names whose masked
plans differ; `-v` adds a unified diff per name. Exit 1 iff any differs.
Two runs of one tree can already differ (the Expand order of several
count-distincts follows a hash set), so compare a tree against itself
before reading a difference as a change.
"""
import difflib
import re
import sys

MASKS = [
    (r'#\d+', '#N'),
    (r'plan_id=\d+', 'plan_id=N'),
    (r'[\w.$]+\$\$Lambda[\w/$]*@[0-9a-f]+', 'LAMBDA'),
    (r'(at \w+\.scala):\d+', r'\1:L'),
    (r'\[+[A-Z]@[0-9a-f]+', 'ARR'),
    (r'/tmp/[^\s,\]\)]+', '/tmp/P'),
    (r'rdd_?\d+|RDD\[\d+\]', 'RDD'),
]


def split(path):
    out, name = {}, None
    with open(path, encoding='utf-8', errors='replace') as f:
        for line in f:
            m = re.match(r'^===== (\S+) =====$', line.rstrip('\n'))
            if m:
                name = m.group(1)
                out[name] = []
            elif name:
                out[name].append(line)
    return out


def mask(lines):
    s = ''.join(lines)
    for pat, rep in MASKS:
        s = re.sub(pat, rep, s)
    return s


def main(argv):
    verbose = '-v' in argv
    args = [a for a in argv if a != '-v']
    a, b = split(args[0]), split(args[1])
    only = set(args[2].split(',')) if len(args) > 2 else None
    names = sorted(n for n in set(a) | set(b) if only is None or n in only)
    bad = [n for n in names if mask(a.get(n, [])) != mask(b.get(n, []))]
    print(f"{len(names) - len(bad)}/{len(names)} identical; differ: {' '.join(bad)}")
    if verbose:
        for n in bad:
            print(f'===== {n}')
            sys.stdout.writelines(difflib.unified_diff(
                mask(a.get(n, [])).splitlines(True),
                mask(b.get(n, [])).splitlines(True), n=1))
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
