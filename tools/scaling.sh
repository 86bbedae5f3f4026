#!/bin/bash
# Scaling-efficiency evidence: same pipeline, same input, local[LO] vs
# local[HI], each in a fresh JVM. Usage: tools/scaling.sh [docs] [lo] [hi]
set -e
# Default levels: N = max(1, nproc/4) vs 4N, so the high level fills the
# box without oversubscribing it. Default heap: half of MemTotal, clamped
# to 2-8 GB.
N=$(( $(nproc) / 4 )); [ "$N" -ge 1 ] || N=1
DOCS=${1:-300000}
LO=${2:-$N}
HI=${3:-$((4 * N))}
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
outlo=$(sbt -batch "runMain graft.ScalingBench $LO $DOCS" 2>/dev/null | grep -o '{"metric":"scaling_point".*}')
outhi=$(sbt -batch "runMain graft.ScalingBench $HI $DOCS" 2>/dev/null | grep -o '{"metric":"scaling_point".*}')
python3 - "$outlo" "$outhi" "$LO" "$HI" <<'EOF'
import json, sys
lo, hi = json.loads(sys.argv[1]), json.loads(sys.argv[2])
ratio = int(sys.argv[4]) / int(sys.argv[3])
eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / ratio
print(json.dumps({"metric": "scaling_efficiency", "value": round(eff, 4),
                  "unit": "ratio", "docs": lo["docs"],
                  "cpus_lo": lo["cpus"], "cpus_hi": hi["cpus"],
                  "sec_lo": lo["sec"], "sec_hi": hi["sec"],
                  "docs_per_sec_lo": lo["docs_per_sec"],
                  "docs_per_sec_hi": hi["docs_per_sec"]}))
EOF
