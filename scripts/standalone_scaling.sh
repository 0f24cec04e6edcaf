#!/usr/bin/env bash
# North-rule deploy path, rendered literally: a REAL Spark standalone
# cluster (master + 4 single-core worker daemons on this host) and
# spark-submit runs of the PageRank superstep benchmark at N=1 and 4N=4
# executors (graft.tools.SubmitScaling). Legs are interleaved
# (1,4,1,4) so a host-noise window cannot poison one side; the result —
# per-leg rep walls, steal telemetry, throughputs, efficiency — lands in
# ./standalone_scaling.json.
#
# Usage: scripts/standalone_scaling.sh [convs] [iters] [rounds]
#   convs  - synthetic transcript conversations (default 10000000 = 65M edges)
#   iters  - supersteps per timed rep (default 10)
#   rounds - interleaved rounds, 2 reps per leg per round (default 2)
#
# Requires: /opt/spark (4.x), the packaged jar (sbt package).
set -euo pipefail

SPARK_HOME=${SPARK_HOME:-/opt/spark}
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JAR="$REPO/target/scala-2.13/graphmatspark_2.13-0.1.0.jar"
CONVS=${1:-10000000}
ITERS=${2:-10}
ROUNDS=${3:-2}
WORK=${GRAFT_STANDALONE_DIR:-/tmp/graft-standalone}
SNAP="$WORK/snap-$CONVS-64-s20"
MASTER_URL="spark://127.0.0.1:7077"

export SPARK_LOCAL_IP=127.0.0.1 SPARK_MASTER_HOST=127.0.0.1
export SPARK_LOG_DIR="$WORK/logs" SPARK_PID_DIR="$WORK/pids" SPARK_WORKER_DIR="$WORK/work"
mkdir -p "$WORK/logs" "$WORK/pids" "$WORK/work"

[ -f "$JAR" ] || { echo "jar missing — run: sbt package"; exit 1; }

if [ ! -f "$SNAP/manifest.json" ]; then
  echo "[standalone] prebuilding snapshot ($CONVS convs, 64 parts, keyShift=20)"
  "$SPARK_HOME/bin/spark-submit" --master 'local[32]' --driver-memory 40g \
    --class graft.tools.GenEdges "$JAR" \
    "$CONVS" "$WORK/edges-$CONVS.parquet" "$SNAP" 64 20
fi

cleanup() {
  SPARK_WORKER_INSTANCES=4 "$SPARK_HOME/sbin/stop-worker.sh" >/dev/null 2>&1 || true
  "$SPARK_HOME/sbin/stop-master.sh" >/dev/null 2>&1 || true
  # stale daemons from a crashed run (or a different PID dir) would make
  # start-master fail on the port and workers register with the WRONG master
  pkill -f 'org.apache.spark.deploy.worker.Worker' 2>/dev/null || true
  pkill -f 'org.apache.spark.deploy.master.Master' 2>/dev/null || true
}
trap cleanup EXIT
cleanup; sleep 2  # clear any leftovers from a previous run

"$SPARK_HOME/sbin/start-master.sh"
SPARK_WORKER_INSTANCES=4 SPARK_WORKER_CORES=1 SPARK_WORKER_MEMORY=12g \
  "$SPARK_HOME/sbin/start-worker.sh" "$MASTER_URL"
sleep 6
REG=$(grep -l 'Successfully registered with master' "$WORK"/logs/*Worker*.out 2>/dev/null | wc -l)
echo "[standalone] workers registered: $REG/4"
[ "$REG" -ge 4 ] || { echo "workers failed to register"; exit 1; }

leg() { # $1 = executor count, $2 = per-executor heap MB; prints the leg json
  GRAFT_EXEC_MEM_MB="$2" "$SPARK_HOME/bin/spark-submit" --master "$MASTER_URL" \
    --total-executor-cores "$1" --executor-cores 1 --executor-memory "${2}m" \
    --driver-memory 4g --class graft.tools.SubmitScaling "$JAR" \
    "$SNAP" "$1" "$ITERS" 2 2>/dev/null | grep '^SUBMITLEG' | sed 's/^SUBMITLEG//'
}

# per-leg heaps mirror the bench's local-cluster pair: the 1-executor leg
# holds the WHOLE snapshot + per-superstep state in one JVM (10g — at 6g it
# thrashes block eviction and runs ~8x slow), the 4-executor legs hold a
# quarter each (6g)
L1=(); L4=()
for r in $(seq 1 "$ROUNDS"); do
  echo "[standalone] round $r: 1-executor leg"; L1+=("$(leg 1 10240)")
  echo "[standalone] round $r: 4-executor leg"; L4+=("$(leg 4 6144)")
done

python3 - "$REPO/standalone_scaling.json" "${L1[@]}" --- "${L4[@]}" <<'EOF'
import json, sys
out = sys.argv[1]
sep = sys.argv.index('---')
legs1 = [json.loads(x) for x in sys.argv[2:sep] if x.strip()]
legs4 = [json.loads(x) for x in sys.argv[sep+1:] if x.strip()]
def fold(legs):
    reps = [w for l in legs for w in l["reps"]]
    best = min(reps); srt = sorted(reps)
    med = srt[len(srt)//2] if len(srt) % 2 else (srt[len(srt)//2-1]+srt[len(srt)//2])/2
    return {"executors": legs[0]["executors"], "edges": legs[0]["edges"],
            "supersteps": legs[0]["supersteps"], "reps": reps, "best": best,
            "median": med,
            "edges_per_sec": legs[0]["edges"]*legs[0]["supersteps"]/best,
            "steal_pct_max": max(l["steal_pct"] for l in legs)}
a, b = fold(legs1), fold(legs4)
res = {"mode": "spark-submit + standalone master/workers (4x 1-core worker daemons)",
       "small": a, "large": b,
       "efficiency": (a["best"]/b["best"])/4.0,
       "efficiency_median": (a["median"]/b["median"])/4.0,
       "note": "the north rule's literal deploy path: real standalone cluster, "
               "real spark-submit, N=1 vs 4N=4 scheduled executor JVMs, "
               "interleaved rounds, prebuilt CSR snapshot (supersteps timed, not ingest)"}
json.dump(res, open(out, "w"), indent=1)
print(json.dumps({k: res[k] for k in ("efficiency", "efficiency_median")}))
print(f"[standalone] -> {out}")
EOF
