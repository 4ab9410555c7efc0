#!/bin/bash
# Interleaved A/B of two checkouts on a bench subset: container weather on
# this box swings publish-heavy gates ±30% between sessions, so base and
# candidate must run back-to-back, alternating, and compare per-query MINIMA
# across rounds (each bench run is itself min-of-3).
#   scripts/ab_subset.sh <baseDir> <candDir> <onlyList> <rounds> <outPrefix>
set -euo pipefail
BASE="$1"; CAND="$2"; ONLY="$3"; ROUNDS="${4:-2}"; PREF="${5:-/tmp/ab}"
# a stale JSON from an earlier A/B must never stand in for a failed run
rm -f "${PREF}"_*_r*.json
for r in $(seq 1 "$ROUNDS"); do
  for side in base cand; do
    dir=$([ "$side" = base ] && echo "$BASE" || echo "$CAND")
    SPARK_GRAFT_ONLY="$ONLY" \
    SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
    SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-90g}" \
    SPARK_GRAFT_BENCH_OUT="${PREF}_${side}_r${r}.json" \
      "$dir/scripts/run_main.sh" graft.Bench \
      > "${PREF}_${side}_r${r}.log" 2>&1 || {
        echo "RUN FAILED: $side r$r (see ${PREF}_${side}_r${r}.log)" >&2
        exit 1
      }
  done
done
python3 - "$PREF" "$ROUNDS" <<'EOF'
import json, sys
pref, rounds = sys.argv[1], int(sys.argv[2])
def load(side):
    qs = {}
    for r in range(1, rounds+1):
        j = json.load(open(f"{pref}_{side}_r{r}.json"))['queries']
        for k, v in j.items(): qs[k] = min(qs.get(k, 9e9), v)
    return qs
b, c = load('base'), load('cand')
tb, tc = sum(b.values()), sum(c.values())
print(f"== min-over-{rounds}-rounds: base {tb:.2f} s -> cand {tc:.2f} s ({tc/tb:.3f}) ==")
for k in sorted(b, key=lambda k: -b[k]):
    print(f"{b[k]:7.2f} -> {c[k]:7.2f}  {c[k]/b[k]:5.2f}  {k}")
EOF
