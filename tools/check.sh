#!/bin/bash
# Full local gate: knob census + compile + specs + oracle diff
# (+ optional perfbench self-test and bench).
# Usage: tools/check.sh [--bench]
set -euo pipefail
cd "$(dirname "$0")/.."
python3 tools/knobs.py   # every spark.graft.* key documented in README
sbt -batch compile test
out=target/verify_out
rm -rf "$out"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out"
python3 tools/compare.py /root/testdata/sf0.01 "$out"
if [[ "${1:-}" == "--bench" ]]; then
  python3 perfbench/run.py --selftest   # the benchmark's own output checks
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench"
  python3 tools/regress.py   # contention-adjusted per-query diff vs baseline
fi
echo "ALL GREEN"
