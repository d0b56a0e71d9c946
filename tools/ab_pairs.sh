#!/bin/bash
# Alternating fresh-process A/B of one bench query between two checkouts:
#   tools/ab_pairs.sh <query> <pairs> <reps> <old_checkout> <new_checkout> <out> [sf_dir]
# Each pair runs tools/ab_one.py from OLD, then from NEW, each in a
# fresh process; results append as JSON lines to <out>, tagged
# OLD_p<i> / NEW_p<i>. Without sf_dir, ab_one.py's default applies.
set -u
Q="$1"; PAIRS="$2"; REPS="$3"; OLD="$4"; NEW="$5"; OUT="$6"
if [ -n "${7:-}" ]; then export SPARK_GRAFT_SF_DIR="$7"; fi
for i in $(seq 1 "$PAIRS"); do
  (cd "$OLD" && python tools/ab_one.py "$Q" --reps "$REPS" --tag "OLD_p$i" 2>/dev/null) >> "$OUT"
  (cd "$NEW" && python tools/ab_one.py "$Q" --reps "$REPS" --tag "NEW_p$i" 2>/dev/null) >> "$OUT"
done
echo "done -> $OUT"
