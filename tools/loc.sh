#!/bin/sh
# Code lines of the library: non-blank lines under src/main/scala whose
# first non-blank characters are not `//`, `/*` or `*` (comment lines).
# Usage: tools/loc.sh [repoDir]   (default: the repository this script is in)
cd "${1:-$(dirname "$0")/..}" || exit 1
find src/main/scala -name '*.scala' -exec cat {} + |
  sed 's/^[[:space:]]*//' | grep -v -e '^$' -e '^//' -e '^/\*' -e '^\*' | wc -l
