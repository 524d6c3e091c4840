#!/usr/bin/env python3
"""4-line duplication scan of the library sources.

Each line of src/main/scala/**/*.scala is whitespace-collapsed and trimmed.
A window is 4 consecutive lines none of which is a comment line (starting
with //, /* or *) or shorter than 15 characters. Every line of a window
already seen earlier (files in sorted path order) is marked. Prints the
marked-line total and the count per file that has any.

Usage: python3 tools/dup_scan.py [repoDir]
"""
import os
import re
import sys


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main", "scala")
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(src)
                   for f in fs if f.endswith(".scala"))
    seen, marked = set(), {}
    for path in files:
        lines = [re.sub(r"\s+", " ", l).strip() for l in open(path, encoding="utf-8")]
        hit = set()
        for k in range(len(lines) - 3):
            window = tuple(lines[k:k + 4])
            if any(len(l) < 15 or l.startswith(("//", "/*", "*")) for l in window):
                continue
            if window in seen:
                hit.update(range(k, k + 4))
            seen.add(window)
        marked[path] = len(hit)
    print(f"total {sum(marked.values())}")
    for path in files:
        if marked[path]:
            print(f"{marked[path]:5d} {os.path.relpath(path, src)}")


if __name__ == "__main__":
    main()
