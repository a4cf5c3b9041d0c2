#!/usr/bin/env bash
# Closing gate: the LAST action of every round, run BEFORE the final
# commit — never register a new QueryDef in the snapshot commit itself.
#
# Three rounds shipped red artifacts because features landed after the
# last verification run (r5: q333 lint, r6: q340 lint + q341 oracle,
# r8: q363 lint — the gate itself was skipped). So the gate is
# mechanical AND self-enforcing: it
#   (a) regenerates bench/BENCH_FULL_r<N>.json and
#       bench/STREAMBENCH_r<N>.json at sf0.1 FIRST, so that
#   (b) the full sbt test suite (which includes GateArtifactSpec:
#       artifact-query-set ⊇ SparkEntry.allDefs) verifies the fresh
#       artifacts — skipping the gate after registering a query leaves
#       the suite red at HEAD by construction,
#   (c) runs Verify + tools/verify_local.py over EVERY registered query
#       at sf0.01 (superset of "names new since last round"),
# and exits non-zero on ANY failure. Commit its outputs; a green exit is
# the round's ship condition.
#
# Usage: tools/closing_gate.sh <round-number>   (e.g. 9)
set -uo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/closing_gate.sh <round-number>}"
SF_VERIFY="${SPARK_GRAFT_VERIFY_SF:-/root/testdata/sf0.01}"
SF_BENCH="${SPARK_GRAFT_BENCH_SF:-/root/testdata/sf0.1}"
OUT="/tmp/closing_gate_r${ROUND}"
# One core count for every main below (GraftSession.local reads it).
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
mkdir -p "$OUT" bench
FAIL=0

echo "== closing gate r${ROUND} =="
echo "loadavg: $(cut -d' ' -f1-3 /proc/loadavg)  (headline numbers are" \
  "noise above ~3 — prefer a quiet machine)"

echo "-- (a0) HEADLINE bench @ $SF_BENCH (first: the quietest window)"
# Bench itself waits until quiet immediately before its first pass (the
# shell-level wait_quiet releases before JVM spin-up adds load — r11
# verdict Next #5), so loadavg_before in the committed artifact is the
# gated value.
BENCH_QUIET="${GATE_QUIET_LOAD:-1.2}"
if ! SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_QUIET_LOAD="$BENCH_QUIET" \
    sbt -batch "runMain graft.Bench" \
    > "$OUT/bench_headline.log" 2>&1; then
  echo "GATE FAIL: headline Bench crashed (see $OUT/bench_headline.log)"
  tail -20 "$OUT/bench_headline.log"
  FAIL=1
else
  grep '"metric"' "$OUT/bench_headline.log" | sed 's/^\[info\] //' \
    > "bench/BENCH_HEADLINE_r${ROUND}.json"
  if ! python3 - "bench/BENCH_HEADLINE_r${ROUND}.json" <<'EOF'
import json, sys
j = json.load(open(sys.argv[1]))
if j.get("errors"):
    print(f"GATE FAIL: headline bench errors: {j['errors']}")
    sys.exit(1)
print(f"headline ok: total {j['value']:.2f}s, loadavg "
      f"{j['loadavg_before']:.2f} -> {j['loadavg_after']:.2f}")
EOF
  then FAIL=1; fi
fi

# Load decay between timing steps: each bench leaves loadavg at 4-5 and
# the 1-minute average decays as e^(-t/60) — without the pause the NEXT
# artifact starts contaminated by the previous step (r10 first gate run:
# full bench started at loadavg 4.0 vs r9's 0.99). A fixed sleep proved
# insufficient (r10 verdict What's-wrong #2), so wait until the machine
# is actually quiet: loadavg < GATE_QUIET_LOAD (default 1.0), capped at
# GATE_DECAY_MAX_SECONDS (default 600) so a stuck background process
# can't wedge the gate.
wait_quiet() {
  local limit="${GATE_QUIET_LOAD:-1.0}" max="${GATE_DECAY_MAX_SECONDS:-600}"
  local waited=0
  while [ "$waited" -lt "$max" ]; do
    local la
    la="$(cut -d' ' -f1 /proc/loadavg)"
    # awk, not python3, for the float compare: a host without python3
    # would otherwise fail every iteration and silently burn the full
    # GATE_DECAY_MAX_SECONDS on each of the gate's pauses (ADVICE r11).
    if awk -v la="$la" -v lim="$limit" 'BEGIN{exit !(la < lim)}'; then
      echo "   quiet after ${waited}s (loadavg $la)"
      return 0
    fi
    sleep 15; waited=$((waited + 15))
  done
  echo "   WARNING: still loadavg $(cut -d' ' -f1 /proc/loadavg) after ${max}s — proceeding"
}
wait_quiet
echo "-- (a) full-surface bench @ $SF_BENCH (loadavg now $(cut -d' ' -f1 /proc/loadavg))"
if ! SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_QUIET_LOAD="$BENCH_QUIET" \
    sbt -batch "runMain graft.Bench all" \
    > "$OUT/bench_full.log" 2>&1; then
  echo "GATE FAIL: Bench all crashed (see $OUT/bench_full.log)"
  tail -20 "$OUT/bench_full.log"
  FAIL=1
else
  grep '"metric"' "$OUT/bench_full.log" | sed 's/^\[info\] //' \
    > "bench/BENCH_FULL_r${ROUND}.json"
  # A query erroring inside the bench is a gate failure, not a footnote.
  if ! python3 - "bench/BENCH_FULL_r${ROUND}.json" <<'EOF'
import json, sys
j = json.load(open(sys.argv[1]))
errs = j.get("errors", {})
if errs:
    print(f"GATE FAIL: bench errors: {errs}")
    sys.exit(1)
print(f"bench ok: {len(j['queries'])} queries, total {j['value']:.1f}s")
EOF
  then FAIL=1; fi
fi

wait_quiet
echo "-- (a) streaming drain bench @ $SF_BENCH (loadavg now $(cut -d' ' -f1 /proc/loadavg))"
if ! SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch "runMain graft.StreamBench" \
    > "$OUT/streambench.log" 2>&1; then
  echo "GATE FAIL: StreamBench crashed (see $OUT/streambench.log)"
  tail -20 "$OUT/streambench.log"
  FAIL=1
else
  grep '"metric"' "$OUT/streambench.log" | sed 's/^\[info\] //' \
    > "bench/STREAMBENCH_r${ROUND}.json"
  # Validate the keys StreamBench ACTUALLY emits (the r8 gate required
  # the batch artifact's (metric,value,unit) set and so failed every
  # successful stream run — ADVICE r8): one stream_drain line with the
  # records + unbounded throughput fields.
  if ! python3 - "bench/STREAMBENCH_r${ROUND}.json" <<'EOF'
import json, sys
j = json.load(open(sys.argv[1]))
missing = [k for k in ("metric", "records", "unbounded_rec_per_sec")
           if k not in j]
if missing or j.get("metric") != "stream_drain":
    print(f"GATE FAIL: stream artifact lacks {missing or 'stream_drain metric'}")
    sys.exit(1)
print(open(sys.argv[1]).read().strip())
EOF
  then
    echo "GATE FAIL: stream artifact empty/unparseable (see $OUT/streambench.log)"
    FAIL=1
  fi
fi

echo "-- (b) full sbt test (includes GateArtifactSpec over the fresh artifacts)"
if ! sbt -batch test > "$OUT/sbt_test.log" 2>&1; then
  echo "GATE FAIL: sbt test (see $OUT/sbt_test.log)"
  tail -30 "$OUT/sbt_test.log"
  FAIL=1
else
  grep -E "Tests: succeeded" "$OUT/sbt_test.log" | tail -1
fi

echo "-- (c) Verify + DuckDB oracle over every registered query @ $SF_VERIFY"
if ! sbt -batch "runMain graft.Verify $SF_VERIFY $OUT/verify" \
    > "$OUT/verify.log" 2>&1; then
  echo "GATE FAIL: graft.Verify crashed (see $OUT/verify.log)"
  tail -20 "$OUT/verify.log"
  FAIL=1
fi
# Verify is per-query fault-tolerant; a broken query surfaces on stderr.
if grep -q "\[verify\].*failed" "$OUT/verify.log"; then
  echo "GATE FAIL: queries failed inside Verify:"
  grep "\[verify\].*failed" "$OUT/verify.log"
  FAIL=1
fi
if ! python3 tools/verify_local.py "$SF_VERIFY" "$OUT/verify" \
    > "$OUT/verify_local.log" 2>&1; then
  echo "GATE FAIL: oracle compare (see $OUT/verify_local.log)"
  grep "FAIL" "$OUT/verify_local.log" | head -20
  FAIL=1
fi
tail -2 "$OUT/verify_local.log"

if [ "$FAIL" -ne 0 ]; then
  echo "== GATE RED: do not snapshot — fix and re-run =="
  exit 1
fi
echo "== GATE GREEN: commit bench/BENCH_FULL_r${ROUND}.json and bench/STREAMBENCH_r${ROUND}.json =="
