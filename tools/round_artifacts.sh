#!/usr/bin/env bash
# Regenerate every per-round evidence artifact in dependency order, so the
# committed JSON always agrees with the committed code (the recurring
# round-hygiene nit: a sweep or replay measured BEFORE the last fix it
# describes). Run from the repo root on a quiet box; total ~80-100 min.
#
#   bash tools/round_artifacts.sh [sf001_dir] [sf01_dir]
#
# Produces / refreshes, in order:
#   1. target/scala-2.13/classes        (sbt compile; aborts on error)
#   2. /tmp/graft_gate                  full sf0.01 gate dump
#      + lint_report_latest.json        (repo root, written by Verify)
#      + gate PASS/FAIL via tools/local_verify.py  (aborts on FAIL)
#   3. profile_sweep_r<N>.json          full-surface stage sweep
#   4. bench_queries_full.json / bench_summary.json / bench_history.jsonl
#      canonical interleaved min-of-3 at sf0.1
#   5. replay_summary_r<N>.json         full-surface sf0.1 oracle replay
#
# Steps 3-5 are timing- or runtime-heavy; do not run anything else on the
# box while they execute. The classes dir is snapshotted to /tmp/graftcp
# first so an editor/sbt recompile cannot kill the in-flight JVMs.
set -euo pipefail
cd "$(dirname "$0")/.."

SF001="${1:-/root/testdata/sf0.01}"
SF01="${2:-/root/testdata/sf0.1}"
# `|| true`: under set -euo pipefail the substitution pipeline aborts the
# whole script when no prior sweep file exists (r10 advice); and if ROUND
# still resolves empty, fail fast instead of silently writing
# profile_sweep_r.json / replay_summary_r.json.
ROUND="${ROUND:-$(ls profile_sweep_r*.json 2>/dev/null | sed 's/[^0-9]//g' | sort -n | tail -1 || true)}"
: "${ROUND:?no prior profile_sweep_r<N>.json found — set ROUND=<N> explicitly}"
CP_SNAP=/tmp/graftcp
# Canonical artifacts are single-JVM-master only; never inherit a
# local-cluster override from the caller's environment.
unset SPARK_GRAFT_MASTER SPARK_GRAFT_ONLY

sbt -batch compile
rm -rf "$CP_SNAP" && cp -r target/scala-2.13/classes "$CP_SNAP"
CP="$CP_SNAP:/opt/spark/jars/*"
JAVA="tools/spark_java.sh"  # Spark module opens — required once blocks spill

echo "== [2/5] correctness gate at $SF001"
"$JAVA" -cp "$CP" graft.Verify "$SF001" /tmp/graft_gate
python3 tools/local_verify.py /tmp/graft_gate "$SF001" | tail -2

echo "== [3/5] full-surface profiler sweep (multi-row-group layout)"
# The sweep runs on the 32-row-group rewrite of sf0.1, not the shipped
# one-row-group files (r17, from r16 punch item 8's finding): on the
# shipped layout every leaf scan is structurally 1 task, which buried the
# sweep's real signal under 28-31 inherent "leaf-only" flags. On the mrg
# layout (with split sizes scaled so ~512 KB plays the role the 128 MB
# default plays against GB-scale production files) leaf flags drop to the
# genuine few, so a NEW flag in this sweep is a real parallelism
# regression, not layout noise.
MRG=/tmp/sf01_mrg
# Cache guard keys on a DONE sentinel written only after the rewrite
# finishes, not on lineitem.parquet alone — a rewrite that died partway
# (sorted glob writes lineitem before nation/orders/...) must not pass
# the guard and feed the sweep an incomplete dir (r17 advice).
[ -f "$MRG/.rewrite_done" ] || {
  rm -rf "$MRG"
  python3 tools/rowgroup_rewrite.py "$SF01" "$MRG" 32
  touch "$MRG/.rewrite_done"
}
SPARK_GRAFT_ONLY=ALL SPARK_GRAFT_SF_DIR="$MRG" SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_PROFILE_OUT="profile_sweep_r${ROUND}.json" \
  "$JAVA" -Dspark.sql.files.maxPartitionBytes=524288 \
    -Dspark.sql.files.openCostInBytes=65536 \
    -cp "$CP" graft.tools.ProfileStages | tail -1

echo "== [4/5] canonical interleaved min-of-3 bench at $SF01"
SPARK_GRAFT_SF_DIR="$SF01" SPARK_GRAFT_CPUS=32 \
  "$JAVA" -cp "$CP" graft.Bench | grep metric

# The deep replay ROTATES between the canonical one-row-group layout and
# the 32-row-group mrg rewrite (r17 punch item 6): even rounds run mrg
# (with the same forced-split confs as the sweep, so mid-file task splits
# are exercised at sf0.1), odd rounds run canonical. One replay per round
# either way; layout-independence stays continuously certified, and the
# summary's sf_dir field records which layout ran.
if [ $((ROUND % 2)) -eq 0 ]; then
  REPLAY_DIR="$MRG"; REPLAY_LAYOUT="mrg-32rg"
  REPLAY_FLAGS="-Dspark.sql.files.maxPartitionBytes=524288 -Dspark.sql.files.openCostInBytes=65536"
else
  REPLAY_DIR="$SF01"; REPLAY_LAYOUT="canonical"
  REPLAY_FLAGS=""
fi
echo "== [5/5] full-surface sf0.1 oracle replay (layout: $REPLAY_LAYOUT)"
# shellcheck disable=SC2086  # REPLAY_FLAGS is intentionally word-split
"$JAVA" $REPLAY_FLAGS -cp "$CP" graft.Verify "$REPLAY_DIR" /tmp/graft_replay
python3 tools/replay_sf01.py /tmp/graft_replay "$REPLAY_DIR" 150 | tail -2
cp /tmp/graft_replay/replay_summary.json "replay_summary_r${ROUND}.json"

echo "done: lint_report_latest.json profile_sweep_r${ROUND}.json" \
  "bench_{queries_full,summary}.json replay_summary_r${ROUND}.json"
