#!/bin/bash
# Round-close record commit (round-14 verdict item 2): BENCH_rN /
# CORRECTNESS_rN landed untracked two rounds in a row because the
# driver writes them after the session's last commit. This script makes
# the canonical record a SCRIPTED final step: it stages every round
# artifact that exists — the driver-written ones from the PREVIOUS
# round plus the session's own canonical records — and commits them, so
# a round ends with `git status` clean.
#
# Usage: tools/round_close.sh <round-number> [extra files...]
#   e.g. tools/round_close.sh 16 OPTIMIZATION_r16.md
#
# It does NOT run the bench itself — run the bench/verify first and
# copy bench_full_latest.json to bench_full_r<N>.json; this script only
# guarantees the ledger lands in git.
set -euo pipefail
cd "$(dirname "$0")/.."

N="${1:?usage: tools/round_close.sh <round-number> [extra files...]}"
shift || true

stage_if_exists() {
  for f in "$@"; do
    if [ -e "$f" ]; then
      git add "$f"
      echo "staged  $f"
    fi
  done
}

# the session's canonical records for THIS round
stage_if_exists "BENCH_r${N}.json" "CORRECTNESS_r${N}.json" \
  "bench_full_r${N}.json"
# rolling artifacts the driver/judge rewrite every round
stage_if_exists LEAKCHECK.json COPYCHECK.json bench_full_latest.json \
  BENCH_sf1_subset.json BENCH_sf10_subset.json BENCH_sf1_full.json
# driver artifacts from the PREVIOUS round that may still be untracked
prev=$((N - 1))
stage_if_exists "BENCH_r${prev}.json" "CORRECTNESS_r${prev}.json" \
  "VERDICT.md" "ADVICE.md"
# any extras the caller names (new sweep records, notes, ...)
stage_if_exists "$@"

if git diff --cached --quiet; then
  echo "nothing to commit — round ${N} records already in git"
else
  git commit -m "round ${N}: canonical bench/correctness/sweep records"
  echo "committed round ${N} records"
fi
git status --short
