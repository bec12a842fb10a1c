#!/usr/bin/env python3
"""Compare two `oracle_sql.json` dumps (written by graft.Verify) contract by
contract.

Prints every contract name that is added, removed, or whose SQL differs.
SQL is compared after collapsing each whitespace run outside single-quoted
literals to one space (and trimming both ends); literals, including their
'' escapes, are compared verbatim. Exits 1 on any difference, 0 otherwise.

Usage: oracle_sql_diff.py <a/oracle_sql.json> <b/oracle_sql.json>
"""
import json
import sys


def normalize(sql):
    """`sql` with whitespace runs outside '…' literals collapsed to one
    space; an unterminated literal runs to the end of the text."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            # a literal ends at the first quote not followed by another
            # quote ('' is an escaped quote inside the literal)
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif ch.isspace():
            while i < n and sql[i].isspace():
                i += 1
            out.append(" ")
        else:
            out.append(ch)
            i += 1
    return "".join(out).strip()


def diff(a, b):
    """(added, removed, changed) contract names, each sorted."""
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = sorted(k for k in set(a) & set(b)
                     if normalize(a[k]) != normalize(b[k]))
    return added, removed, changed


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(argv[1]) as fa, open(argv[2]) as fb:
        a, b = json.load(fa), json.load(fb)
    added, removed, changed = diff(a, b)
    for tag, names in (("ADDED", added), ("REMOVED", removed), ("CHANGED", changed)):
        for name in names:
            print(f"{tag:8s} {name}")
    n = len(added) + len(removed) + len(changed)
    print(f"{n} differences over {len(set(a) | set(b))} names")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
