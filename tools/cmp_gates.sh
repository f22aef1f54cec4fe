#!/usr/bin/env bash
# Compare two graft.Verify output dirs gate by gate: the check for a
# change that must not move any gate's output.
#
#   tools/cmp_gates.sh <parent_out> <change_out> [gate,...]
#
# 1. `cmp` of the two oracle_sql.json files (byte-identical oracle SQL);
# 2. every gate's parquet, row for row: same schema, same count and
#    exceptAll empty both ways. A gate missing on one side reads DIFF.
# The optional third argument limits step 2 to the named gates (full
# names, e.g. q51_row_diff,q52_fix_sql).
#
# Prints one `SAME <gate>` / `DIFF <gate>` line per gate and exits
# non-zero if the oracle SQL or any gate differs. Uses spark-shell
# ($SPARK_HOME/bin, else PATH) with local[4] and a 4 GB driver.
set -euo pipefail
[ $# -ge 2 ] || { sed -n '5p' "$0" >&2; exit 2; }
A="$(cd "$1" && pwd)"
B="$(cd "$2" && pwd)"
ONLY="${3:-}"
SPARK_SHELL="${SPARK_HOME:+$SPARK_HOME/bin/}spark-shell"

status=0
if cmp "$A/oracle_sql.json" "$B/oracle_sql.json"; then
  echo "SAME oracle_sql.json"
else
  echo "DIFF oracle_sql.json"; status=1
fi

script="$(mktemp --suffix=.scala)"
trap 'rm -f "$script"' EXIT
cat > "$script" <<'SCALA'
val (a, b) = (sys.env("CMP_A"), sys.env("CMP_B"))
val only = sys.env("CMP_ONLY").split(",").filter(_.nonEmpty).toSet
def gates(d: String) = Option(new java.io.File(d).list).toSeq.flatten
  .filterNot(_.endsWith(".json"))
val names = (gates(a) ++ gates(b)).distinct.sorted
  .filter(n => only.isEmpty || only(n))
for (n <- names) {
  val same = scala.util.Try {
    val (x, y) = (spark.read.parquet(s"$a/$n"), spark.read.parquet(s"$b/$n"))
    x.schema == y.schema && x.count == y.count &&
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }.getOrElse(false) // a gate missing on one side reads DIFF
  println(s"${if (same) "SAME" else "DIFF"} $n")
}
System.exit(0)
SCALA

out="$(CMP_A="$A" CMP_B="$B" CMP_ONLY="$ONLY" "$SPARK_SHELL" \
  --master 'local[4]' --driver-memory 4g -i "$script" 2>/dev/null \
  | grep -E '^(SAME|DIFF) ' || true)"
[ -n "$out" ] || { echo "no gate compared" >&2; exit 1; }
echo "$out"
if grep -q '^DIFF ' <<<"$out"; then status=1; fi
exit $status
