#!/usr/bin/env bash
# Physical-plan diff of two checkouts of this repo: runs `graft.Plans` for
# the named queries in each (sf0.01, or SPARK_GRAFT_SF_DIR), strips what
# differs between any two runs of one checkout, and diffs what is left.
# Stripped: expression ids (`#12`, `#12L`), exchange plan ids, and the
# numbers of AQE query stages and codegen stages (`ShuffleQueryStage 5`,
# `*(7)`), which follow the order in which sibling stages finish. Empty
# output means the two checkouts plan those queries alike; the exit
# status is diff's.
#
#   scripts/plan_diff.sh <parent-checkout> <change-checkout> <query>…
set -euo pipefail
if (( $# < 3 )); then
  echo "usage: $0 <parent-checkout> <change-checkout> <query>…" >&2
  exit 2
fi
a=$(cd "$1" && pwd)
b=$(cd "$2" && pwd)
shift 2
out=$(mktemp -d)
trap 'rm -rf "$out"' EXIT
for side in a b; do
  dir=${!side}
  (cd "$dir" && sbt --batch -Dsbt.log.noformat=true \
    "runMain graft.Plans $out/$side.md $*") >"$out/$side.log" 2>&1 ||
    { cat "$out/$side.log" >&2; exit 1; }
  sed -E 's/#[0-9]+L?//g; s/plan_id=[0-9]+/plan_id=/g; s/QueryStage [0-9]+/QueryStage/g;
    s/\*\([0-9]+\)/*()/g' "$out/$side.md" >"$out/$side.plans"
done
diff -u --label "$a" --label "$b" "$out/a.plans" "$out/b.plans"
