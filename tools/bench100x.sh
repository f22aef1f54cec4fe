#!/usr/bin/env bash
# Produce BENCH_100x.json honestly (VERDICT r12 item 4).
#
# Runs the in-suite Bench100x pass, then re-runs each entry named in
# $ISOLATE in its OWN fresh JVM, and merges those readings into the
# artifact as "isolated_sec". Entries belong in $ISOLATE when any
# adjudicated run showed in-suite/isolated > 1.5x (r12: q65 1.74x,
# q51 1.53x — storage-state breathing, plans bit-identical); carrying
# the isolated number in-file keeps the committed totals from
# overstating the steady state.
#
# A throwing entry does not stop the pass: Bench100x prints its cause on
# stderr, keeps its wall time in "queries" and counts it in the line's
# "failed" field, which the merged artifact carries unchanged.
#
# Usage: tools/bench100x.sh <scaledDir> [outJson]
# Run EXCLUSIVE: no concurrent sbt/verify in this repo (NOTES gotcha).
set -euo pipefail
DIR="${1:-/tmp/graft_sf10}"
OUT="${2:-BENCH_100x.json}"
ISOLATE="${ISOLATE:-q65_minhash_lsh,q51_row_diff}"
cd "$(dirname "$0")/.."

MAIN=$(tools/run.sh graft.Bench100x "$DIR" 2>/tmp/bench100x_insuite.err | tail -1)

ISO_JSON="{"
SEP=""
IFS=',' read -ra GATES <<< "$ISOLATE"
for g in "${GATES[@]}"; do
  LINE=$(tools/run.sh graft.Bench100x "$DIR" "$g" 2>/dev/null | tail -1)
  SEC=$(python3 -c "import json,sys; print(json.loads(sys.argv[1])['queries']['$g'])" "$LINE")
  ISO_JSON="$ISO_JSON$SEP\"$g\":$SEC"
  SEP=","
done
ISO_JSON="$ISO_JSON}"

python3 - "$MAIN" "$ISO_JSON" "$OUT" <<'EOF'
import json, sys
main = json.loads(sys.argv[1])
main["isolated_sec"] = json.loads(sys.argv[2])
with open(sys.argv[3], "w") as f:
    f.write(json.dumps(main) + "\n")
print("wrote", sys.argv[3])
EOF
