#!/usr/bin/env python3
"""Compare two oracle dumps (`oracle_sql.json`, as graft.Verify writes it)
token for token.

Outside single-quoted SQL literals every whitespace run becomes one space
and the ends are trimmed; literals ('' escapes included) compare byte for
byte. So a refactor of how the oracle strings are built (line breaks,
indentation, shared fragments) reads as identical, while any change to a
token, a literal or the set of names does not.

Usage: python3 tools/oracle_sql_diff.py <before.json> <after.json>
Prints the entry counts and the differing names; exits 1 if any differ.
"""
import json
import re
import sys


def normalize(sql):
    out, i, n = [], 0, len(sql)
    while i < n:
        if sql[i] == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if sql[j + 1:j + 2] != "'":
                        break
                    j += 1  # '' is an escaped quote inside the literal
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        else:
            j = sql.find("'", i)
            j = n if j < 0 else j
            out.append(re.sub(r"\s+", " ", sql[i:j]))
            i = j
    return "".join(out).strip()


def main():
    before, after = (json.load(open(p)) for p in sys.argv[1:3])
    print(f"entries: {len(before)} before, {len(after)} after")
    differ = [k for k in sorted(set(before) | set(after))
              if k not in before or k not in after
              or before[k] is None or after[k] is None
              or normalize(before[k]) != normalize(after[k])]
    print(f"differing: {len(differ)}")
    for k in differ:
        print("  " + k)
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
