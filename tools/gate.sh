#!/usr/bin/env bash
# Pre-commit gate: the one command that must be green before a product
# commit lands (NOTES.md "pre-commit ritual"). Bundles the checks that
# previously ran by hand and occasionally got skipped:
#
#   1. sbt test                        (425+ specs)
#   2. graft.Verify @ sf0.01           (dump every query + oracle_sql.json)
#   3. tools/compare.py                (DuckDB oracle diff, zero waivers —
#                                       DEFAULT mode = the driver's
#                                       hugeint-strict gate; width-strict
#                                       is NOT the gate: it reds the 20
#                                       documented driver-insensitive
#                                       int32-vs-BIGINT rows)
#   4. tools/bench100x_totals.py --check   (SCALING.md derived blocks fresh)
#   5. no .localCheckpoint( in src/main outside plans/Materialize.scala
#   6. git status --porcelain          (tree clean apart from the staged
#                                       change set — run BEFORE `git add`
#                                       to see what you are about to ship)
#
# Usage: tools/gate.sh [sfDir]           (default /root/testdata/sf0.01)
#   GATE_SKIP_TESTS=1   skip step 1 (when sbt test just ran unchanged)
#   GATE_ALLOW_DIRTY=1  demote step 5 to a warning (mid-round iteration)
set -uo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="target/gate_verify"
fail=0

step() { printf '\n== gate: %s ==\n' "$1"; }

if [[ "${GATE_SKIP_TESTS:-}" != "1" ]]; then
  step "sbt test"
  sbt -batch test || fail=1
else
  echo "== gate: sbt test SKIPPED (GATE_SKIP_TESTS=1) =="
fi

step "Verify @ $SF_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" || fail=1

step "compare.py (driver-equivalent hugeint-strict mode)"
python3 tools/compare.py "$SF_DIR" "$OUT_DIR" || fail=1

step "bench100x_totals.py --check"
python3 tools/bench100x_totals.py --check || fail=1

# r13 verdict #8: the bench's two JSON surfaces (stdout line + artifact)
# are the driver's only machine numbers — round-trip the standing
# artifact so a format drift is caught here, not in an adjudication
step "check_bench_json.py BENCH_FULL.json"
if [[ -f BENCH_FULL.json ]]; then
  python3 tools/check_bench_json.py BENCH_FULL.json || fail=1
else
  echo "BENCH_FULL.json absent — skipped"
fi

# one materialization primitive: graft.plans.Materialize owns the policy,
# so no other src/main file may call localCheckpoint directly
step "localCheckpoint only in Materialize.scala"
stray="$(grep -rn '\.localCheckpoint(' src/main | grep -v '^src/main/scala/graft/plans/Materialize\.scala:')"
if [[ -n "$stray" ]]; then
  echo "$stray"
  echo "route these through graft.plans.Materialize"
  fail=1
else
  echo "ok"
fi

step "git status --porcelain"
dirty="$(git status --porcelain)"
if [[ -n "$dirty" ]]; then
  echo "$dirty"
  if [[ "${GATE_ALLOW_DIRTY:-}" == "1" ]]; then
    echo "(dirty tree allowed: GATE_ALLOW_DIRTY=1)"
  else
    echo "tree is dirty — commit or stash everything the round ships,"
    echo "or rerun with GATE_ALLOW_DIRTY=1 while iterating"
    fail=1
  fi
else
  echo "clean"
fi

echo
if [[ $fail -ne 0 ]]; then
  echo "GATE: RED — do not commit"
  exit 1
fi
echo "GATE: green"
