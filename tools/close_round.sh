#!/bin/bash
# Round close-out (VERDICT r7 #3): commit the round's evidence artifacts so
# the evidence chain stops lagging one round. Four consecutive rounds ended
# with BENCH_rN.json / CORRECTNESS_rN.json untracked at judging time because
# the driver writes them after the builder's last manual commit — this makes
# the pickup mechanical. Run with no args at any point (idempotent: commits
# only what actually changed); the driver or the next round's first command
# can both invoke it.
set -e
cd "$(dirname "$0")/.."

ARTIFACTS=$(ls BENCH_r*.json BENCH_DETAIL.json CORRECTNESS_r*.json \
               LEAKCHECK.json BASELINE.json \
               VERDICT.md ADVICE.md SCALE.md COVERAGE.md \
               PLANS.md 2>/dev/null || true)
[ -z "$ARTIFACTS" ] && { echo "no artifact files present"; exit 0; }

git add -- $ARTIFACTS
if git diff --cached --quiet; then
  echo "evidence artifacts already committed"
  exit 0
fi

# name the commit after the newest round artifact present
N=$(ls BENCH_r*.json CORRECTNESS_r*.json 2>/dev/null |
      sed -E 's/.*_r0*([0-9]+)\.json/\1/' | sort -n | tail -1)
git commit -m "Track round ${N:-?} evidence artifacts (bench/correctness/docs)"
echo "committed:"
git show --stat --oneline HEAD | head -20
