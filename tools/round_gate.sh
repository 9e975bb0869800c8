#!/usr/bin/env bash
# One-command round close-out gate (r14, verdict #8).
#
# Runs the round's full evidence chain in the SAFE order the repo's lore
# demands (BENCH_NOTES, memory notes — now encoded here):
#   1. no concurrent heavy jobs (load check up front, hard refusal)
#   2. sbt test            — the spec tier
#   3. Verify + verify_local at sf0.01 — the DuckDB correctness gate
#   4. perfbench smoke run — one analyst_queries round; every result is
#      hash-checked against its DuckDB oracle and the gate fails unless
#      the run reports `"correct": true`
# Scale (SCALE.md) is NOT in the default chain (60-90 min); pass
# --scale to include it between steps 3 and 4.
#
# Usage: tools/round_gate.sh [--scale] [--skip-tests]
# Env: GATE_LOAD_MAX (default 4.0)
set -u
cd "$(dirname "$0")/.."

SCALE=0
SKIP_TESTS=0
for a in "$@"; do
  case "$a" in
    --scale) SCALE=1 ;;
    --skip-tests) SKIP_TESTS=1 ;;
    *) echo "unknown arg: $a" >&2; exit 64 ;;
  esac
done

VERIFY_SF=/root/testdata/sf0.01
VERIFY_OUT=/tmp/round_gate_verify
LOAD_MAX="${GATE_LOAD_MAX:-4.0}"
declare -a RESULTS=()
FAIL=0

step() { echo; echo "== round_gate: $1 =="; }
record() { # name status — PASS and SKIPPED... do not fail the gate
  RESULTS+=("$1: $2")
  case "$2" in PASS|SKIPPED*) ;; *) FAIL=1 ;; esac
}

step "load check (no concurrent heavy jobs)"
LOAD=$(awk '{print $1}' /proc/loadavg)
if awk -v l="$LOAD" -v m="$LOAD_MAX" 'BEGIN{exit !(l > m)}'; then
  echo "load $LOAD > $LOAD_MAX — another heavy job is running." >&2
  echo "A bench/Scale measurement under contention ships a disturbed artifact" >&2
  echo "(r10: 1.54x vs 0.95x clean). Drain the box, then rerun." >&2
  exit 75
fi
echo "load $LOAD <= $LOAD_MAX — clear"

if [ "$SKIP_TESTS" = 1 ]; then
  record "sbt test" "SKIPPED (--skip-tests)"
else
  step "sbt test"
  if sbt -batch test > /tmp/round_gate_sbt_test.log 2>&1; then
    grep -E "Tests: succeeded" /tmp/round_gate_sbt_test.log | tail -1
    record "sbt test" PASS
  else
    tail -30 /tmp/round_gate_sbt_test.log
    record "sbt test" "FAIL (log: /tmp/round_gate_sbt_test.log)"
  fi
fi

step "Verify @ sf0.01 + DuckDB compare"
rm -rf "$VERIFY_OUT"
if SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $VERIFY_SF $VERIFY_OUT" \
     > /tmp/round_gate_verify.log 2>&1 \
   && python3 tools/verify_local.py "$VERIFY_SF" "$VERIFY_OUT" \
     > /tmp/round_gate_verify_cmp.log 2>&1; then
  tail -4 /tmp/round_gate_verify_cmp.log
  record "verify+oracle" PASS
else
  tail -20 /tmp/round_gate_verify_cmp.log 2>/dev/null || tail -20 /tmp/round_gate_verify.log
  record "verify+oracle" "FAIL (logs: /tmp/round_gate_verify*.log)"
fi

if [ "$SCALE" = 1 ]; then
  step "Scale harness -> SCALE.md"
  if sbt -batch "runMain graft.Scale /root/repo/SCALE.md" \
       > /tmp/round_gate_scale.log 2>&1; then
    record "scale" PASS
  else
    tail -20 /tmp/round_gate_scale.log
    record "scale" "FAIL (log: /tmp/round_gate_scale.log)"
  fi
fi

step "perfbench smoke (analyst_queries, seed 7)"
if python3 perfbench/run.py --workload analyst_queries --seed 7 --seconds 10 --trace 0 \
     > /tmp/round_gate_perfbench.log 2>/tmp/round_gate_perfbench.err \
   && tail -1 /tmp/round_gate_perfbench.log | python3 -c "
import json, sys
r = json.loads(sys.stdin.read())
print('correct:', r['correct'], 'attempted:', r['attempted'], 'failed:', r['failed'])
sys.exit(0 if r['correct'] is True else 1)"; then
  record "perfbench smoke" PASS
else
  tail -20 /tmp/round_gate_perfbench.err
  record "perfbench smoke" "FAIL (logs: /tmp/round_gate_perfbench.*)"
fi

echo
echo "== round_gate summary =="
for r in "${RESULTS[@]}"; do echo "  $r"; done
if [ "$FAIL" = 1 ]; then echo "ROUND GATE: FAIL"; exit 1; fi
echo "ROUND GATE: PASS"
