#!/usr/bin/env bash
# Kill-resilience drills — the r11 robustness claims, scripted so they
# re-run per round instead of living as BENCH_NOTES prose (verdict r11
# "What's missing" #5):
#
#   drill 1: kill -9 mid-Verify leaves oracle_sql.json (valid JSON) and
#            a partial-but-real dump — every COMPLETED entry (_SUCCESS
#            present) passes the driver-faithful oracle compare.
#   drill 2: a 60 s bench budget still samples EVERY SURVEY family
#            (q/e/d/s) and the final stdout line parses as JSON; its
#            PASS line quotes the bench's warm-up notes.
#
# Usage: tools/drill_kill.sh        (builds assumed: sbt compile done)
# Exit 0 = both drills green; nonzero with a DRILL FAIL line otherwise.
set -uo pipefail
cd "$(dirname "$0")/.."

fail() { echo "DRILL FAIL: $*" >&2; exit 1; }

# ---------- drill 1: kill -9 mid-Verify ----------
OUT=$(mktemp -d /tmp/drill_verify.XXXXXX)
tools/run_main.sh graft.Verify /root/testdata/sf0.01 "$OUT" \
  > "$OUT/log" 2>&1 &
VPID=$!
# Wait until oracle_sql.json exists (written BEFORE the dump loop) and
# a handful of entries finished, then kill hard mid-loop. The 120 s cap
# only trips if Verify hangs outright — itself a failure.
for _ in $(seq 1 120); do
  n=$(find "$OUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
  if [ -f "$OUT/oracle_sql.json" ] && [ "$n" -ge 6 ]; then break; fi
  kill -0 "$VPID" 2>/dev/null || fail "drill1: Verify exited before the kill point (see $OUT/log)"
  sleep 1
done
kill -9 "$VPID" 2>/dev/null
wait "$VPID" 2>/dev/null
[ -f "$OUT/oracle_sql.json" ] || fail "drill1: oracle_sql.json missing after kill -9"
python3 -c "import json; json.load(open('$OUT/oracle_sql.json'))" \
  || fail "drill1: oracle_sql.json is not valid JSON"
# Prune entries the kill caught MID-WRITE (no _SUCCESS marker): the
# driver charges those to the kill, not to correctness. Everything that
# completed must be real — the driver-faithful compare passes on it.
pruned=0
for d in "$OUT"/*/; do
  if [ ! -f "$d/_SUCCESS" ]; then rm -rf "$d"; pruned=$((pruned + 1)); fi
done
n=$(find "$OUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
[ "$n" -ge 1 ] || fail "drill1: no completed entries survived the kill"
# check.py's exit code is captured WITHOUT aborting (ADVICE r13: it
# exits 1 on any FAIL, so an `|| fail` guard fired before the FAIL
# detail lines below could be echoed — losing the diagnostics); print
# any FAIL detail first, then assert rc==0. The PASS grep matches
# check.py's actual statuses (PASS/ROWS/EMPTY — it never prints 'OK').
rc=0
python3 tools/check.py /root/testdata/sf0.01 "$OUT" > "$OUT/check.log" 2>&1 || rc=$?
if grep -q '^FAIL' "$OUT/check.log"; then
  grep '^FAIL' "$OUT/check.log" >&2
  fail "drill1: a completed entry failed the oracle compare after the kill"
fi
[ "$rc" -eq 0 ] || fail "drill1: check.py exited nonzero ($rc) with no FAIL lines — compare crashed (see $OUT/check.log)"
grep -Eq '^(PASS|ROWS)' "$OUT/check.log" \
  || fail "drill1: check.py emitted no PASS/ROWS lines (see $OUT/check.log)"
echo "drill1 PASS: kill -9 mid-Verify left valid oracle_sql.json + $n verified entries ($pruned mid-write pruned)"

# ---------- drill 2: 60 s bench budget samples every family ----------
BLOG=$(mktemp /tmp/drill_bench.XXXXXX)
SPARK_GRAFT_TIME_BUDGET=60 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  tools/run_main.sh graft.Bench > "$BLOG" 2>&1 \
  || fail "drill2: bench exited nonzero (see $BLOG)"
python3 - "$BLOG" <<'EOF' || exit 1
import json, sys
lines = [l.strip() for l in open(sys.argv[1]) if l.strip()]
try:
    summary = json.loads(lines[-1])
except Exception as e:
    sys.exit(f"DRILL FAIL: drill2: final bench line does not parse: {e}")
qmap = summary.get("queries")
if not isinstance(qmap, dict):  # split form: map is its own line above
    for l in reversed(lines[:-1]):
        try:
            j = json.loads(l)
        except Exception:
            continue
        if "bench_queries" in j:
            qmap = j["bench_queries"]; break
if not isinstance(qmap, dict) or not qmap:
    sys.exit("DRILL FAIL: drill2: no per-query map in bench output")
fams = {k[0] for k in qmap}
notes = []
for l in lines:
    try:
        note = json.loads(l).get("bench_note", "")
    except Exception:
        continue
    if isinstance(note, str) and note.startswith("warmup"):
        notes.append(note)
missing = {"q", "e", "d", "s"} - fams
if missing:
    sys.exit(f"DRILL FAIL: drill2: families never sampled: {sorted(missing)}")
print(f"drill2 PASS: 60 s budget measured {len(qmap)} entries across "
      f"families {sorted(fams)}; final line parses "
      f"(complete={summary.get('complete')}, skipped_n={summary.get('skipped_n')}); "
      f"warm-up: {'; '.join(notes) or 'no note'}")
EOF
