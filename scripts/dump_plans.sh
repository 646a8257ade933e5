#!/usr/bin/env bash
# Dump per-query explain("formatted") into <out_dir>/<key>_<suffix>.txt,
# plus a normalized copy <out_dir>/norm_<suffix>/<key>.txt with the
# per-run ids stripped (expression ids #N, exchange ids [plan_id=N], RDD
# ids, temp-directory names, lake commit directory and part-file names,
# object identity hashes, source line numbers and lambda names), so two
# dumps compare with one command:
#   diff -r <out_dir>/norm_before <out_dir>/norm_after
# Usage: scripts/dump_plans.sh <repo_dir> <out_dir> <suffix> <sf_dir> <keys...>
# The repo_dir must be compiled (target/scala-2.13/classes); <suffix> is
# e.g. "before" (the parent commit's checkout) or "after" (HEAD).
# The session is sized like the test session unless the caller says
# otherwise: SPARK_GRAFT_CPUS defaults to nproc and SPARK_DRIVER_MEM to
# half the machine's memory, clamped to 2g..8g.
set -euo pipefail
REPO="$1"; OUT="$2"; SUF="$3"; SF="$4"; shift 4
OUT="$(mkdir -p "$OUT" && cd "$OUT" && pwd)"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
mkdir -p "$OUT/norm_$SUF"
TMP=$(mktemp)
(cd "$REPO" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_DRIVER_MEM="$MEM" scripts/run.sh graft.Explain "$@" 2>/dev/null) > "$TMP"
awk -v out="$OUT" -v suf="$SUF" '
  # Object identity hashes (`...Aggregator@1a2b3c`): the hash goes, the
  # class name stays.
  function strip_hashes(s,   out) {
    out = ""
    while (match(s, /[A-Za-z0-9_$]@[0-9a-f]+/)) {
      out = out substr(s, 1, RSTART) "@"
      s = substr(s, RSTART + RLENGTH)
    }
    return out s
  }
  # A key header opens the files of that key. The formatted plan has
  # its own "===== Subqueries =====" section: it stays with its key.
  /^===== / && $2 != "Subqueries" {
    if (f) { close(f); close(nf) }
    key = $2; f = out "/" key "_" suf ".txt"; nf = out "/norm_" suf "/" key ".txt"
    next
  }
  f {
    print > f
    line = $0; gsub(/#[0-9]+/, "", line); gsub(/\[plan_id=[0-9]+\]/, "", line)
    gsub(/RDD\[[0-9]+\]/, "RDD[]", line); gsub(/\/tmp\/[A-Za-z_]+[0-9]+/, "/tmp/TMP", line)
    gsub(/\.scala:[0-9]+/, ".scala", line); gsub(/\$Lambda[^ ,]*/, "$Lambda", line)
    gsub(/commit-[0-9]+-[0-9a-f]+/, "commit-N-X", line)
    gsub(/part-[0-9]+-[0-9a-f][0-9a-f-]*/, "part-N-X", line)
    print strip_hashes(line) > nf
  }
' "$TMP"
rm -f "$TMP"
ls -la "$OUT" | tail -n +2
