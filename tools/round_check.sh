#!/usr/bin/env bash
# Full pre-round gate: compile, tests (engine + perfbench), oracle sweeps
# at all SFs, bench.
# Usage: tools/round_check.sh [--quick]   (--quick skips sf0.1 + bench)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile + tests =="
sbt -batch test 2>&1 | grep -E "Tests:|FAILED|error\]" | head -5

# perfbench is its own sbt build against Engine.local / SparkEntry: build
# and test it so an engine API change cannot break the benchmark unseen
echo "== perfbench compile + tests =="
(cd perfbench && sbt -batch test) 2>&1 | grep -E "Tests:|FAILED|error\]" | head -5

for sf in sf0.001 sf0.01; do
  echo "== oracle sweep $sf =="
  rm -rf "/tmp/rc_$sf"
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/$sf /tmp/rc_$sf" 2>&1 | grep "\[verify\]" || true
  python3 tools/check_oracle.py "/root/testdata/$sf" "/tmp/rc_$sf" | tail -1
done

if [[ "${1:-}" != "--quick" ]]; then
  echo "== oracle sweep sf0.1 =="
  rm -rf /tmp/rc_sf0.1
  SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/rc_sf0.1" 2>&1 | grep "\[verify\]" || true
  python3 tools/check_oracle.py /root/testdata/sf0.1 /tmp/rc_sf0.1 | tail -1
  echo "== bench sf0.1 =="
  # SPARK_GRAFT_BENCH_COMMIT=1 lets THIS gate refresh the committed quiet
  # artifact (BENCH_full.json); a driver-side bench run (which doesn't set
  # it) writes its full line to target/ instead of dirtying the work tree
  SPARK_GRAFT_BENCH_COMMIT=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
fi
# The driver rewrites LEAKCHECK.json in place each round (only the round
# number changes when there are 0 hits). Like BENCH_full.json, driver
# artifacts must not dirty the committed tree — restore the committed copy
# so the post-gate `git status` is clean; a real finding would land in the
# driver's own artifact set regardless.
if ! git diff --quiet -- LEAKCHECK.json 2>/dev/null; then
  git checkout -- LEAKCHECK.json
  echo "== restored driver-touched LEAKCHECK.json =="
fi
echo "== round_check done =="
