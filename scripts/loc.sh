#!/usr/bin/env bash
# Main code line count: the non-blank lines under src/main that are not
# comment lines (lines whose first non-blank characters are `//`, `*` or
# `/**`). Prints one "<count> <file>" line per file, largest first, then
# the total.
#
#   scripts/loc.sh            # src/main of this repo
#   scripts/loc.sh <dir>      # any other source tree
set -euo pipefail
cd "${1:-$(dirname "$0")/../src/main}"
find . -type f -name '*.scala' -print0 | sort -z |
  xargs -0 awk '
    FNR == 1 && NR > 1 { files[prev] = n; n = 0 }
    { prev = FILENAME }
    /^[[:space:]]*$/ || /^[[:space:]]*(\/\/|\*|\/\*\*)/ { next }
    { n++; total++ }
    END {
      if (NR > 0) files[prev] = n
      for (f in files) printf "%6d %s\n", files[f], substr(f, 3) | "sort -rn"
      close("sort -rn")
      printf "%6d total\n", total
    }'
