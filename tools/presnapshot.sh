#!/usr/bin/env bash
# Pre-snapshot guard: never let an unbuilt or unverified edit reach the
# end-of-round commit. Rounds 9 and 10 were both lost to a final edit
# that had never been compiled; this script makes that impossible.
#
# Usage:
#   tools/presnapshot.sh                 # compile only (fast gate)
#   tools/presnapshot.sh q_gini pl_mm    # compile + targeted verify of
#                                        #   the named gate substrings
#   tools/presnapshot.sh --full          # compile + full 227-gate verify
#
# Exit 0 = safe to snapshot. Any non-zero = DO NOT COMMIT.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== presnapshot: sbt compile =="
sbt -batch compile

if [ "$#" -eq 0 ]; then
  echo "== presnapshot: compile green, no gates requested — OK =="
  exit 0
fi

OUT=/tmp/presnapshot_verify
rm -rf "$OUT"
if [ "${1:-}" = "--full" ]; then
  echo "== presnapshot: full verify at sf0.01 =="
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT"
else
  echo "== presnapshot: targeted verify of: $* =="
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT $*"
fi

echo "== presnapshot: oracle check =="
python3 tools/check.py /root/testdata/sf0.01 "$OUT"
echo "== presnapshot: OK =="
