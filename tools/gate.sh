#!/usr/bin/env bash
# Pre-snapshot compile gate: refuse to let a half-landed refactor ship.
#
# Rounds 9-10 were lost to a rename that compiled in neither main nor test
# sources but was committed anyway. Run this before ANY end-of-round commit
# (and ideally before every commit): it fails loudly unless BOTH the main
# and test sources compile. Commit only on exit 0.
#
# It also fails when a main source outside the shared-stage registry
# (thrivespark/Shared.scala) declares a concurrent.TrieMap.
#
# Usage:  tools/gate.sh            # compile gate only (~20 s warm)
#         tools/gate.sh --test     # also run the full ScalaTest suite
set -euo pipefail
cd "$(dirname "$0")/.."

# One shared-stage registry: every memoised intermediate goes through
# thrivespark.Shared, so no other main source may hold its own TrieMap cache.
if grep -rnE 'concurrent\.(\{[^}]*)?TrieMap' src/main/scala \
    | grep -v '^src/main/scala/thrivespark/Shared\.scala:'; then
  echo "[gate] FAIL: concurrent.TrieMap outside thrivespark/Shared.scala — route the cache through Shared.stage"
  exit 1
fi
echo "[gate] one registry OK"

echo "[gate] sbt compile + Test/compile ..."
if ! sbt -batch compile Test/compile > /tmp/gate_compile.log 2>&1; then
  tail -30 /tmp/gate_compile.log
  echo "[gate] FAIL: compilation broken — do NOT commit. Full log: /tmp/gate_compile.log"
  exit 1
fi
echo "[gate] compile OK"

if [[ "${1:-}" == "--test" ]]; then
  echo "[gate] sbt test ..."
  if ! sbt -batch test > /tmp/gate_test.log 2>&1; then
    { grep -E 'FAILED|Tests:' /tmp/gate_test.log | tail -20; } || true
    echo "[gate] FAIL: tests red — do NOT commit. Full log: /tmp/gate_test.log"
    exit 1
  fi
  # informational only — the sbt exit code above already decided the gate
  { grep -E 'Tests: succeeded' /tmp/gate_test.log | tail -1; } || true
  echo "[gate] tests OK"
fi
echo "[gate] PASS"
