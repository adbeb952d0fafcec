#!/bin/bash
# Full four-SF sweep protocol (SCALE.md rounds 8/11/13): per-query budget
# 1500 s, min-of-2 passes, multi-minute slots measured once
# (SKIP_REPEAT 300 s), warm JVM per SF, host otherwise idle.
# Produces the committed artifacts BENCHFULL{,_sf1,_sf10,_sf30}.json.
# Raw per-slot progress streams to /tmp/sweep_<sf>.log.
#
# Usage: tools/run_sweeps.sh [sf0.1] [sf1] [sf10] [sf10twins] [sf30]
#   No args = all five stages. Named stages run in the given order —
#   a slot-filtered re-measure (e.g. just the sf30 twins) is a first-class
#   protocol run, not an ad-hoc sbt invocation.
#
# WARMTH PROTOCOL (round 15 — VERDICT r14 task 3): every stage sets
# SPARK_GRAFT_WARMUP_SF_DIR one SF below its target, so Bench warms each
# slot through its own code paths immediately before that slot's first
# measured pass. Marathon and filtered artifacts then measure the same
# warm steady state — the round-14 ~30% protocol asymmetry (which booked
# three linear twins as super-linear) cannot recur, and the sf10twins
# denominator becomes a cross-check rather than a correction.
#
# MECHANICAL IDLE GUARD (round 14 — VERDICT r13 task 3): the "host
# otherwise idle" rule used to be prose, and the r13 sf30 sweep silently
# overlapped the driver's Verify run, contaminating three twins' slopes.
# Now a sweep REFUSES to start (a) if another sweep holds the lockfile,
# (b) if any graft Verify/Bench JVM is already running, or (c) if the
# 1-minute load average says the host is not idle. An unattended Verify
# or Bench started AFTER the sweep begins can still contaminate it — the
# guard is at start time — so sweep logs record start/end timestamps for
# post-hoc overlap audits.
set -e
cd /root/repo

LOCK=/tmp/graft_sweep.lock
if ! mkdir "$LOCK" 2>/dev/null; then
  echo "SWEEP REFUSED: lockfile $LOCK held (owner pid $(cat "$LOCK/pid" 2>/dev/null || echo '?')) — another sweep is running" >&2
  exit 2
fi
echo $$ > "$LOCK/pid"
trap 'rm -rf "$LOCK"' EXIT

if pgrep -f 'graft\.(Verify|Bench)' | grep -qv "^$$\$"; then
  echo "SWEEP REFUSED: a graft.Verify/graft.Bench JVM is already running (pids: $(pgrep -f 'graft\.(Verify|Bench)' | tr '\n' ' ')) — host not idle" >&2
  exit 2
fi

LOAD1=$(cut -d' ' -f1 /proc/loadavg)
MAXLOAD=${SWEEP_MAX_LOAD:-4.0}
if python3 -c "import sys; sys.exit(0 if float('$LOAD1') > float('$MAXLOAD') else 1)"; then
  echo "SWEEP REFUSED: 1-min load average $LOAD1 > $MAXLOAD — host not idle (override with SWEEP_MAX_LOAD)" >&2
  exit 2
fi

export SPARK_GRAFT_QUERY_BUDGET_SEC=1500

STAGES=("$@")
[ ${#STAGES[@]} -eq 0 ] && STAGES=(sf0.1 sf1 sf10 sf10twins sf30)

TWINS='^(q137_knn_join_prod|q137_knn_join_atrest|q168_semdedup_prod|q12_neardup_minhash_prod|q40_neardup_ngram_prod|q183_sq8_ivf_prod|q183_sq8_ivf_atrest|q172_mmr_prod|q174_trim_prod|q187_bitext_prod|q173_rrf_prod|q55_range_join_prod|q142_split_leakage_prod|q192_bitext_bidi_prod|q162_ngram_hitters|q131_pack_windows|q132_pack_bpe_ids)$'

# PERIODIC IDLE RE-CHECK (round 15 — ADVICE r14; sensor fixed round 16,
# ADVICE r15): the start-time guard cannot see a Verify/Bench JVM
# launched AFTER the sweep begins. A background watcher re-checks every
# 60 s via tools/count_graft_jvms.sh — which counts FORKED worker JVMs
# from `jps -l` main classes, because the old pgrep counter also matched
# the sbt launcher's 'runMain graft.Bench' argv (so every healthy stage
# read >=2 and the guard was non-functional as merged) — and appends a
# timestamped OVERLAP WARNING to $OVERLAP_LOG whenever the worker count
# exceeds the sweep's own (1 while a stage runs). Warnings go to their
# OWN file, not the stage log: sbt holds the stage log open with a `>`
# redirection whose sequential writes would overwrite appended lines.
# The sweep tail prints the file loudly; timestamps match stage windows.
# Count + warn logic is fixture-tested in ToolsSpec.
OVERLAP_LOG=/tmp/sweep_overlap_warnings.log
: > "$OVERLAP_LOG"
watcher() {
  while true; do
    sleep 60
    tools/count_graft_jvms.sh --warn "$OVERLAP_LOG" 1 > /dev/null
  done
}
watcher & WATCHER_PID=$!
trap 'rm -rf "$LOCK"; kill $WATCHER_PID 2>/dev/null' EXIT

for st in "${STAGES[@]}"; do
  echo "=== sweep $st (start $(date -u +%FT%TZ)) ==="
  case "$st" in
    sf0.1)
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      SPARK_GRAFT_WARMUP_SF_DIR=/root/testdata/sf0.01 \
      SPARK_GRAFT_BENCHFULL_OUT=/root/repo/BENCHFULL.json \
        sbt -batch "runMain graft.Bench" > /tmp/sweep_sf0.1.log 2>&1
      tail -2 /tmp/sweep_sf0.1.log ;;
    sf1)
      SPARK_GRAFT_SF_DIR=/root/repo/scratch/sf1 \
      SPARK_GRAFT_WARMUP_SF_DIR=/root/testdata/sf0.1 \
      SPARK_GRAFT_BENCHFULL_OUT=/root/repo/BENCHFULL_sf1.json \
        sbt -batch "runMain graft.Bench" > /tmp/sweep_sf1.log 2>&1
      tail -2 /tmp/sweep_sf1.log ;;
    sf10)
      SPARK_GRAFT_SF_DIR=/root/repo/scratch/sf10 \
      SPARK_GRAFT_WARMUP_SF_DIR=/root/repo/scratch/sf1 \
      SPARK_GRAFT_BENCHFULL_OUT=/root/repo/BENCHFULL_sf10.json \
        sbt -batch "runMain graft.Bench" > /tmp/sweep_sf10.log 2>&1
      tail -2 /tmp/sweep_sf10.log ;;
    sf10twins)
      # Twins-only sf10 run under the SAME filtered protocol as the sf30
      # probe — the third-decade slope's DENOMINATOR (round 14). With the
      # round-15 per-slot warm-up both this artifact and the marathon
      # should now read within noise of each other (the warmth asymmetry
      # that motivated this stage is equalized at the Bench level); it is
      # kept as the like-for-like denominator AND as the mechanical
      # cross-check that the warm-up actually holds (compare its slots
      # against BENCHFULL_sf10.json).
      SPARK_GRAFT_SF_DIR=/root/repo/scratch/sf10 \
      SPARK_GRAFT_WARMUP_SF_DIR=/root/repo/scratch/sf1 \
      SPARK_GRAFT_BENCHFULL_OUT=/root/repo/BENCHFULL_sf10twins.json \
      SPARK_GRAFT_SLOT_FILTER="$TWINS" \
        sbt -batch "runMain graft.Bench" > /tmp/sweep_sf10twins.log 2>&1
      tail -2 /tmp/sweep_sf10twins.log ;;
    sf30)
      # Third-decade probe (round 13): only the bench-only production
      # twins (SparkEntry slots with `oracle = None`), the documented
      # cost-step (q162) and the round-12 pack-fix family (q131/q132) —
      # the slots whose slope story carries above the
      # full-sweep decades — as a committed artifact instead of RunOne prose.
      # Warm-up at sf1: C2 warmth is invocation-count-bound, not
      # bytes-bound, and an sf10 warm-up would double the stage.
      SPARK_GRAFT_SF_DIR=/root/repo/scratch/sf30 \
      SPARK_GRAFT_WARMUP_SF_DIR=/root/repo/scratch/sf1 \
      SPARK_GRAFT_BENCHFULL_OUT=/root/repo/BENCHFULL_sf30.json \
      SPARK_GRAFT_SLOT_FILTER="$TWINS" \
        sbt -batch "runMain graft.Bench" > /tmp/sweep_sf30.log 2>&1
      tail -2 /tmp/sweep_sf30.log ;;
    *)
      echo "unknown stage '$st' (expected sf0.1|sf1|sf10|sf10twins|sf30)" >&2; exit 1 ;;
  esac
  echo "=== sweep $st done ($(date -u +%FT%TZ)) ==="
done

if [ -s "$OVERLAP_LOG" ]; then
  echo "=== OVERLAP WARNINGS (timestamps map to stage windows above) ==="
  cat "$OVERLAP_LOG"
else
  echo "=== no overlap warnings (watcher ran every 60s) ==="
fi

# WARMTH DRIFT CHECK (round 16 — VERDICT r15 task 7): flag per-sweep, not
# per-round. Warn-only by design (check_warmth.py exits 0 on tolerance
# misses while the ±5% acceptance remains unclaimed — ADVICE r15).
if [ -f BENCHFULL_sf10.json ] && [ -f BENCHFULL_sf10twins.json ]; then
  echo "=== warmth check (warn-only) ==="
  python3 tools/check_warmth.py BENCHFULL_sf10.json BENCHFULL_sf10twins.json || true
fi

echo "=== all sweeps done ==="
