#!/usr/bin/env bash
# Round-close gate, scripted (VERDICT r13 #8 / ADVICE r12 #5): one command
# that runs the full builder-side correctness gate and emits the SWEEP.md
# line, so no commit gate can silently skip a channel.
#
#   1. sbt compile (fails the gate on any compile error)
#   2. optional: sbt test (skip with ROUND_CLOSE_SKIP_TESTS=1 when the
#      suite already ran green on the same tree — say so in the note)
#   3. graft.Verify at sf0.01 (concurrent dump, all 185 entries), timed
#   4. tools/check.py — the driver-faithful dtype-strict DuckDB compare;
#      any FAIL or EMPTY entry, or an unparsed test count, fails the gate;
#      prints the ten slowest DuckDB oracles
#   5. prints the SWEEP line with Verify's wall seconds and the first 12
#      hex digits of oracle_sql.json's sha256, so a line shows whether the
#      oracle SQL is byte-identical to another's (appends to SWEEP.md
#      with ROUND_CLOSE_APPEND=1)
#   6. on PASS, deletes the parquet dumps and keeps oracle_sql.json,
#      verify.log and check.log
#
# Usage: tools/round_close.sh <round> [note...]
#   e.g. tools/round_close.sh r14 "post-chunked-output sweep"
set -uo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/round_close.sh <round> [note]}"
shift || true
NOTE="${*:-}"

fail() { echo "ROUND-CLOSE FAIL: $*" >&2; exit 1; }

sbt compile > /tmp/round_close_compile.log 2>&1 \
  || fail "sbt compile failed (see /tmp/round_close_compile.log)"

TESTS="tests skipped (ROUND_CLOSE_SKIP_TESTS=1)"
if [ "${ROUND_CLOSE_SKIP_TESTS:-0}" != "1" ]; then
  sbt test > /tmp/round_close_test.log 2>&1 \
    || fail "sbt test failed (see /tmp/round_close_test.log)"
  grep -Eq 'Tests: succeeded [0-9]+' /tmp/round_close_test.log \
    || fail "test count unparsed (see /tmp/round_close_test.log)"
  TESTS=$(grep -Eo 'Tests: succeeded [0-9]+' /tmp/round_close_test.log \
    | awk '{s+=$3} END {print s " tests green"}')
fi

OUT=$(mktemp -d /tmp/round_close_verify.XXXXXX)
t0=$(date +%s)
tools/run_main.sh graft.Verify /root/testdata/sf0.01 "$OUT" \
  > "$OUT/verify.log" 2>&1 \
  || fail "graft.Verify exited nonzero (see $OUT/verify.log)"
VERIFY_S=$(( $(date +%s) - t0 ))

rc=0
python3 tools/check.py /root/testdata/sf0.01 "$OUT" > "$OUT/check.log" 2>&1 || rc=$?
grep '^FAIL' "$OUT/check.log" >&2 || true
tally=$(grep -Eo '== [0-9]+ pass, [0-9]+ fail, [0-9]+ rows-only ==' "$OUT/check.log" | tail -1)
[ -n "$tally" ] || fail "check.py produced no tally (rc=$rc, see $OUT/check.log)"
pass=$(echo "$tally" | awk '{print $2}')
failn=$(echo "$tally" | awk '{print $4}' | tr -d ',')
rows=$(echo "$tally" | awk '{print $6}' | tr -d ',')
total=$((pass + failn + rows))
[ "$rc" -eq 0 ] || fail "check.py exited nonzero ($rc): $tally (see $OUT/check.log)"
[ "$failn" -eq 0 ] || fail "oracle compare has $failn FAIL entries: $tally"
# a rows-only entry that dumped zero rows is a failure (the driver
# requires rows > 0), not a quiet rows-only pass
empty=$(grep -c '^EMPTY' "$OUT/check.log")
grep '^EMPTY' "$OUT/check.log" >&2
[ "$empty" -eq 0 ] || fail "$empty rows-only entries are EMPTY: $tally"

echo "slowest oracles (DuckDB seconds):"
sed -nE 's/^(PASS|FAIL) +([^:]+):.*\(oracle ([0-9.]+)s\)$/\3 \2/p' "$OUT/check.log" \
  | sort -rn | head -10 | sed 's/^/  /'

SHA=$(git rev-parse --short HEAD 2>/dev/null || echo unknown)
DIRTY=""
git diff --quiet 2>/dev/null || DIRTY="+wip"
ORACLE=$(sha256sum "$OUT/oracle_sql.json" | cut -c1-12)
LINE="- $ROUND $(date -u +%F) $SHA$DIRTY — $pass hash-PASS / $failn FAIL / $rows rows-only (of $total) — ${NOTE:-scripted round-close gate}; Verify ${VERIFY_S} s; oracle_sql.json sha256 $ORACLE; $TESTS."
echo "$LINE"
if [ "${ROUND_CLOSE_APPEND:-0}" = "1" ]; then
  echo "$LINE" >> SWEEP.md
  echo "(appended to SWEEP.md)"
fi
# the dumps are 185 parquet directories; the logs and oracle SQL stay
find "$OUT" -mindepth 1 -maxdepth 1 -type d -exec rm -rf {} +
echo "ROUND-CLOSE PASS ($OUT keeps oracle_sql.json, verify.log, check.log)"
