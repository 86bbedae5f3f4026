#!/bin/bash
# Paired-interleaved scaling matrix: runs [membw-sample, HI, LO] per pair
# (each Spark level in a fresh JVM), computes per-adjacent-pair efficiency
# and reports the all-pairs median PLUS a quiet-subset median with noisy
# episodes visibly flagged.
#
# Why paired: this host shows up to 4x wall drift over tens of minutes
# (shared VM / noisy neighbors). Interleaving the two parallelism levels
# makes each efficiency ratio compare runs taken minutes apart, so slow
# drift cancels in the ratio even when absolute numbers swing; the median
# over pairs then rejects the remaining outliers.
#
# Why annotated: a pair that straddles a co-tenant episode produces a
# ratio that measures the NEIGHBOR, not the engine. Each pair therefore
# records (a) a 1-thread MemBandwidth spot-sample taken just before the
# pair — the direct signal of available memory bandwidth, which is what
# co-tenants steal — and (b) /proc/loadavg before each run (catches
# external CPU load; note the 1-min average also carries decay from our
# own previous JVM, so bandwidth is the primary quiet criterion).
# Quiet pair := bandwidth sample >= 85% of the best sample in the matrix.
#
# Usage: tools/scaling_matrix.sh [docs] [lo] [hi] [pairs]
set -e
# Default levels: N = max(1, nproc/4) vs 4N, so the high level fills the
# box without oversubscribing it. Default heap: half of MemTotal, clamped
# to 2-8 GB.
N=$(( $(nproc) / 4 )); [ "$N" -ge 1 ] || N=1
DOCS=${1:-4000000}
LO=${2:-$N}
HI=${3:-$((4 * N))}
PAIRS=${4:-8}
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
export SPARK_GRAFT_GC=${SPARK_GRAFT_GC:-G1}
OUT=${SCALING_OUT:-/tmp/scaling_matrix_rows.jsonl}
: > "$OUT"

run_point() { # cpus -> scaling_point json augmented with pre-run loadavg
  local cpus=$1
  local load
  load=$(cut -d' ' -f1 /proc/loadavg)
  local j
  j=$(sbt -batch "runMain graft.ScalingBench $cpus $DOCS" 2>/dev/null |
    grep -o '{"metric":"scaling_point".*}')
  echo "{\"load_pre\":$load,${j:1}"
}

for i in $(seq 1 "$PAIRS"); do
  bw=$(sbt -batch "runMain graft.MemBandwidth 1" 2>/dev/null |
    grep -o '{"metric":"mem_bandwidth".*}')
  hi=$(run_point "$HI")
  lo=$(run_point "$LO")
  row="{\"pair\":$i,\"membw\":$bw,\"hi\":$hi,\"lo\":$lo}"
  echo "$row" >> "$OUT"
  echo "pair $i: $row" >&2
done

python3 - "$LO" "$HI" "$DOCS" "$OUT" <<'EOF'
import json, statistics, sys
lo_c, hi_c, docs, path = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
rows = [json.loads(l) for l in open(path)]
ratio = hi_c / lo_c
for r in rows:
    r["eff"] = (r["hi"]["docs_per_sec"] / r["lo"]["docs_per_sec"]) / ratio
    r["bw1t"] = r["membw"]["t1"]["gb_per_sec"]
best_bw = max(r["bw1t"] for r in rows)
quiet = [r for r in rows if r["bw1t"] >= 0.85 * best_bw]
noisy = [r["pair"] for r in rows if r["bw1t"] < 0.85 * best_bw]
out = {
  "metric": "scaling_matrix", "docs": docs,
  "cpus_lo": lo_c, "cpus_hi": hi_c, "pairs": len(rows),
  "per_pair": [{
      "pair": r["pair"], "eff": round(r["eff"], 4),
      "bw1t_gbs": round(r["bw1t"], 2),
      "load_pre_hi": r["hi"]["load_pre"], "load_pre_lo": r["lo"]["load_pre"],
      "docs_per_sec_hi": round(r["hi"]["docs_per_sec"], 1),
      "docs_per_sec_lo": round(r["lo"]["docs_per_sec"], 1),
  } for r in rows],
  "median_docs_per_sec_hi": round(statistics.median(r["hi"]["docs_per_sec"] for r in rows), 1),
  "median_docs_per_sec_lo": round(statistics.median(r["lo"]["docs_per_sec"] for r in rows), 1),
  "median_pair_efficiency": round(statistics.median(r["eff"] for r in rows), 4),
  "best_bw1t_gbs": round(best_bw, 2),
  "quiet_pairs": [r["pair"] for r in quiet],
  "flagged_noisy_pairs": noisy,
  "median_pair_efficiency_quiet": round(statistics.median(r["eff"] for r in quiet), 4) if quiet else None,
}
print(json.dumps(out))
EOF
