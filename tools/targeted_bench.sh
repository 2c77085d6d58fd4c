#!/bin/bash
# Targeted bench of a query subset, retried until a calm window: runs
# graft.Bench restricted to $2 (comma list) with reps=$3 (default 3),
# then checks the artifact's telemetry: every pass that entered the
# medians (the unflagged passes, or all of them when the artifact's
# medians_from is "all_passes") must have steal_frac <= 0.02, the same
# bound the calm-window probe waits for. Retries up to 4 times
# otherwise, and fails an attempt that wrote no artifact.
# Usage: targeted_bench.sh <artifact.json> <q1,q2,...> [reps]
set -u
ART="$1"; ONLY="$2"; REPS="${3:-3}"
for attempt in 1 2 3 4; do
  rm -f "$ART"  # never validate a previous attempt's artifact
  # wait for a calm 10 s sample before burning a run
  for i in $(seq 1 60); do
    s0=$(awk '/^cpu /{print $9}' /proc/stat); b0=$(awk '/^cpu /{print $2+$3+$4}' /proc/stat)
    sleep 10
    s1=$(awk '/^cpu /{print $9}' /proc/stat); b1=$(awk '/^cpu /{print $2+$3+$4}' /proc/stat)
    st=$((s1-s0)); bu=$((b1-b0))
    frac=$(python3 -c "print(($st)/max($st+$bu,1))")
    ok=$(python3 -c "print(1 if $frac < 0.02 else 0)")
    [ "$ok" = "1" ] && break
    echo "[targeted] waiting out steal=$frac (probe $i)"
  done
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_ONLY="$ONLY" SPARK_GRAFT_BENCH_REPS="$REPS" \
    SPARK_GRAFT_BENCH_SLOPE_DIR= SPARK_GRAFT_BENCH_ARTIFACT="$ART" \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -E "^\[info\] (#|\{)" | tail -2
  if [ ! -f "$ART" ]; then
    echo "[targeted] attempt $attempt wrote no artifact, retrying"
    continue
  fi
  bad=$(python3 - "$ART" <<'EOF'
import json,sys
a=json.load(open(sys.argv[1]))
t=a["telemetry"]
used=t if a["medians_from"]=="all_passes" else [
    p for p in t if not p.get("over_max_steal") and not p.get("over_cpu_inflation")]
print(sum(1 for p in used if p["steal_frac"]>0.02))
EOF
)
  if [ "$bad" = "0" ]; then echo "[targeted] CLEAN artifact $ART"; exit 0; fi
  echo "[targeted] attempt $attempt contaminated ($bad stormy passes in the medians), retrying"
done
echo "[targeted] giving up; last artifact kept (suspect)"
exit 1
