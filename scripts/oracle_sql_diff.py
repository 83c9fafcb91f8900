#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (as written by graft.Verify).

Exits 0 when both dumps hold the same key set and, for every key, the same
SQL once each run of whitespace outside a string literal is collapsed to
one space (leading and trailing whitespace dropped). Whitespace inside a
single-quoted literal or a double-quoted identifier is compared as is.
Otherwise prints each differing key and exits 1.

Usage: oracle_sql_diff.py <a/oracle_sql.json> <b/oracle_sql.json>"""
import json
import sys


def normalize(sql):
    out, i, n, pending_space = [], 0, len(sql), False
    while i < n:
        c = sql[i]
        if c in "'\"":
            # a quoted run ends at the next unpaired quote ('' escapes ')
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            if pending_space and out:
                out.append(" ")
            pending_space = False
            out.append(sql[i:j + 1])
            i = j + 1
        elif c.isspace():
            pending_space = True
            i += 1
        else:
            if pending_space and out:
                out.append(" ")
            pending_space = False
            out.append(c)
            i += 1
    return "".join(out)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv[1:])
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    changed = sorted(k for k in set(a) & set(b)
                     if normalize(a[k]) != normalize(b[k]))
    for k in only_a:
        print(f"only in {argv[1]}: {k}")
    for k in only_b:
        print(f"only in {argv[2]}: {k}")
    for k in changed:
        print(f"sql differs: {k}")
    if only_a or only_b or changed:
        return 1
    print(f"{len(a)} oracles match up to whitespace")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
