#!/bin/bash
# The correctness gate: run graft.Verify over a test-table directory, replay
# the dumped queries' oracles in DuckDB (tools/selfcheck.py) and exit
# non-zero if anything failed.
#
#   tools/verify_gate.sh SF_DIR [NAMES]
#
# SF_DIR is the sf0.01 table directory the oracles are pinned to; NAMES is
# an optional comma-separated query filter. The dump and both logs go to
# target/verify_gate/ (VERIFY_GATE_OUT overrides). The gate fails on:
#   - a query that threw inside Verify ("[verify] <name> failed"): Verify
#     goes on to the next query and dumps nothing for it;
#   - a non-zero exit of Verify or of selfcheck.py (a mismatch, an oracle
#     that errored, a missing oracle_sql.json);
#   - in an unfiltered run, any oracle left undumped: selfcheck skips an
#     undumped oracle and still reports that the dumped ones match.
set -u
cd "$(dirname "$0")/.."
sf="${1:?usage: tools/verify_gate.sh SF_DIR [NAMES]}"
names="${2:-}"
out="${VERIFY_GATE_OUT:-target/verify_gate}"
rm -rf "$out"
mkdir -p "$out"
sbt -batch "runMain graft.Verify $sf $out/dump $names" > "$out/verify.log" 2>&1
verify_rc=$?
python3 tools/selfcheck.py "$sf" "$out/dump" > "$out/selfcheck.log" 2>&1
selfcheck_rc=$?

fail=0
if grep -E '\[verify\] [^ ]+ failed' "$out/verify.log"; then fail=1; fi
if [ "$verify_rc" -ne 0 ]; then echo "Verify exited $verify_rc ($out/verify.log)"; fail=1; fi
if [ "$selfcheck_rc" -ne 0 ]; then
  grep '^FAIL' "$out/selfcheck.log"
  echo "selfcheck.py exited $selfcheck_rc ($out/selfcheck.log)"
  fail=1
fi
if [ -z "$names" ] && grep -q 'not dumped' "$out/selfcheck.log"; then
  echo "unfiltered run left oracles undumped: $(tail -1 "$out/selfcheck.log")"
  fail=1
fi
tail -1 "$out/selfcheck.log"
if [ "$fail" -ne 0 ]; then echo "verify gate: FAIL"; exit 1; fi
echo "verify gate: PASS"
