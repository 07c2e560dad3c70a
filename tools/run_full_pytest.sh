#!/usr/bin/env bash
# Full-suite run + freshness marker (VERDICT r4 #2: round 4's snapshot
# shipped with 2 failing unit tests because the full suite wasn't re-run
# after a 16-call-site refactor — make the check mechanical, not a habit).
#
# On success writes .fullpytest_ok with the source-tree content hash the
# suite ran against; the pre-commit hook (tools/install_hooks.sh) refuses
# source-touching commits whose current tree hash differs from the marker,
# unless explicitly overridden with ALLOW_STALE_PYTEST=1 (WIP commits).
set -euo pipefail
cd "$(dirname "$0")/.."

hash="$(bash tools/source_hash.sh)"
start=$(date +%s)
# the tier-1 command (ROADMAP.md), plus the 15 slowest tests for the marker
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors \
  -p no:cacheprovider --durations=15 | tee /tmp/fullpytest.log
dur=$(( $(date +%s) - start ))
tail=$(grep -E "passed|failed" /tmp/fullpytest.log | tail -1)

{
  echo "source_hash=$hash"
  echo "finished_utc=$(date -u +%FT%TZ)"
  echo "duration_s=$dur"
  echo "result=$tail"
  echo "slowest:"
  sed -n '/slowest 15 durations/,/^$/p' /tmp/fullpytest.log | grep -E '^[0-9.]+s ' || true
} > .fullpytest_ok
echo "[full-pytest] marker written: $tail (${dur}s)"

# Keep SCALE.md's "full pytest" matrix row mechanically in sync with the
# marker (VERDICT r8 #8: the r8 row said 655 while the marker said 657 —
# hand-copied numbers drift; emitted numbers don't).
counts=$(echo "$tail" | grep -oE '[0-9]+ passed(, [0-9]+ skipped)?' | head -1)
if [ -n "$counts" ] && grep -q '^| full pytest |' SCALE.md; then
  sed -i "s#^| full pytest |.*#| full pytest | $counts | marker fresh at HEAD (row auto-synced from \`.fullpytest_ok\` by \`tools/run_full_pytest.sh\` — ADVICE r8) |#" SCALE.md
  echo "[full-pytest] SCALE.md row synced: $counts"
fi

# Keep PLANS.md mechanically fresh (VERDICT r9 #1): regenerate it at the
# same tree the suite just validated, stamped with the same source hash,
# so a stale plan document blocks commits exactly like a stale
# .fullpytest_ok.  Skip only when the stamp already matches (a docs-only
# rerun doesn't need a Spark session).
stamp="$(grep -oP '(?<=<!-- source_hash: )[0-9a-f]+' PLANS.md 2>/dev/null || true)"
if [ "$stamp" != "$hash" ]; then
  echo "[full-pytest] regenerating PLANS.md at source hash $hash"
  python tools/gen_plans.py
fi
