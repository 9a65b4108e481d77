#!/usr/bin/env bash
# Mutated-twin scale board: near-dup (not byte-identical) ×K copies of
# sf0.1 — H grows ×K, stressing the rep-graph machinery the exact-copy
# boards never touch. Usage: tools/mutboard.sh <K> [names]
set -u
K="${1:-10}"
NAMES="${2:--}"
cd "$(dirname "$0")/.."
# defaults fit the host: every core, and half its memory as heap,
# clamped to [2, 8] g (the Tier-1 heap rule)
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  2>/dev/null </proc/meminfo || echo 2g)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$HEAP}" \
exec tools/run-main.sh graft.ScaleSmoke /root/testdata/sf0.1 "$K" "$NAMES" warm mutate
