#!/usr/bin/env bash
# Bench + regression tripwire.
#
# 1. Full per-query sweep at the given sf (default sf0.1). Bench
#    re-measures every >2x outlier with warm reps inside its own
#    artifact (the "triage" key of bench_last.json).
# 2. bench_diff vs the canonical clean reference (tools/bench_ref.txt):
#    fail on any query regressed >2x — the round-4 lesson (contaminated
#    runs read unchanged code 3-30x slower).
# Targeted re-timing of a flagged query:
#   sbt "runMain graft.QProf q1,q2 <reps> <sfDir> keepcache"
set -uo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.1}"
SPARK_GRAFT_SF_DIR="$SF_DIR" sbt -batch "runMain graft.Bench" || exit 1
python3 tools/bench_diff.py bench_last.json
