#!/bin/bash
# Parallelism matrix: runs graft.Verify plus tools/selfcheck.py (the
# DuckDB oracle) over a query list at SPARK_GRAFT_CPUS {1, 4} x
# SPARK_GRAFT_SHUFFLE_PARTITIONS {1, 7, 200} (200 is Spark's default:
# far more partitions than rows in some round frames). For the default
# list, the PageRank family (q148, q165, q184), it also runs once with
# the chunked edge build forced (SPARK_GRAFT_EDGEBUILD_MAX_ROWS=1), whose
# stderr must show the rescan tier for all three queries; that run
# pauses 2 s per round and takes a few minutes.
#
# Usage: tools/rank_matrix.sh <sf_dir> [out_root] [queries]
#   sf_dir    a provisioned dataset dir (sf0.01 is the intended size)
#   out_root  scratch for the Verify outputs and logs
#             (default: ${TMPDIR:-/tmp}/rank_matrix)
#   queries   comma-separated registered query names (default: the
#             PageRank family); every one must hash-PASS, or print a
#             non-empty [ROWS] line if it has no oracle
# SPARK_DRIVER_MEM (default 4g) sizes each Verify JVM. Prints one line per
# cell and exits non-zero on any FAIL.
set -u
[ $# -ge 1 ] || { echo "usage: $0 <sf_dir> [out_root] [queries]" >&2; exit 2; }
SF=$(cd "$1" && pwd) || exit 2
OUT=${2:-${TMPDIR:-/tmp}/rank_matrix}
RANK=q148_pagerank,q165_weighted_pagerank,q184_personalized_pagerank
QS=${3:-$RANK}
NQ=$(echo "$QS" | tr ',' '\n' | grep -c .)
cd "$(dirname "$0")/.." || exit 2
mkdir -p "$OUT"
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-4g}
fails=0

# cell <label> [VAR=value...]: one Verify + selfcheck run; every query
# must pass
cell() {
  local label=$1 out="$OUT/$1"
  shift
  rm -rf "$out"
  if ! env "$@" sbt -batch "runMain graft.Verify $SF $out $QS" > "$out.log" 2>&1; then
    echo "[FAIL] $label: Verify exited non-zero (see $out.log)"
    fails=$((fails + 1))
    return 1
  fi
  python3 tools/selfcheck.py "$SF" "$out" > "$out.check" 2>&1
  local rc=$? pass
  pass=$(grep -c '^\[PASS\]\|^\[ROWS\]' "$out.check")
  if [ $rc -ne 0 ] || [ "$pass" -ne "$NQ" ]; then
    echo "[FAIL] $label: $pass/$NQ pass (see $out.check)"
    fails=$((fails + 1))
    return 1
  fi
  echo "[PASS] $label: $NQ/$NQ pass"
}

sbt -batch compile > "$OUT/compile.log" 2>&1 ||
  { echo "[FAIL] compile (see $OUT/compile.log)"; exit 1; }
for cpus in 1 4; do
  for parts in 1 7 200; do
    cell "cpus${cpus}_parts${parts}" SPARK_GRAFT_CPUS=$cpus \
      SPARK_GRAFT_SHUFFLE_PARTITIONS=$parts
  done
done
if [ "$QS" = "$RANK" ] && cell chunked SPARK_GRAFT_EDGEBUILD_MAX_ROWS=1; then
  rescans=$(grep -c 'mass-push tier: .* -> rescan' "$OUT/chunked.log")
  if [ "$rescans" -ne 3 ]; then
    echo "[FAIL] chunked: $rescans/3 rescan-tier lines (see $OUT/chunked.log)"
    fails=$((fails + 1))
  else
    echo "[PASS] chunked: rescan tier for all three"
  fi
fi
echo "$fails failing cell(s)"
[ $fails -eq 0 ]
