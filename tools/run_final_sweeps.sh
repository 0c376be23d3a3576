#!/bin/bash
# Round-close verification chain — sequential so the DuckDB spill dirs
# and the Spark JVM never collide:
#   1. full strict sweep at sf0.01 (default session)
#   2. full strict sweep at sf0.001 (default session)
#   3. DuckDB-side type lint
#   4. full strict sweep at sf0.1 (default 8g session) — STANDING
#      per-round tier since r14 (r13's first run caught two real
#      scale-dependent defects the smaller SFs cannot see)
#   5. sf0.1 + 256KB shattered splits (default 8g session) —
#      accumulation-order adversarial at 10x the driver gate's volume
# Sweeps 4-5 need the DEFAULT 8 GiB driver (SPARK_GRAFT_DRIVER_MEM
# unset): a 1 GiB driver at sf0.1 is PAST the exact-Jaccard verifier
# family's documented memory floor (SCALE.md rule 32) —
# that crash is the documented boundary, not a bug.
#   tools/run_final_sweeps.sh [tag]    # output files /tmp/oracle_<tag>_*.txt
set -u
TAG="${1:-final}"
cd "$(dirname "$0")/.."
rm -rf .tmp
timeout 3500 python tools/oracle_check.py /root/testdata/sf0.01 \
  > "/tmp/oracle_${TAG}_sf001.txt" 2>/dev/null
echo "sf0.01 exit: $?" >> "/tmp/oracle_${TAG}_sf001.txt"
rm -rf .tmp
timeout 1800 python tools/oracle_check.py /root/testdata/sf0.001 \
  > "/tmp/oracle_${TAG}_sf0001.txt" 2>/dev/null
echo "sf0.001 exit: $?" >> "/tmp/oracle_${TAG}_sf0001.txt"
rm -rf .tmp
timeout 900 python tools/oracle_check.py /root/testdata/sf0.01 --lint-only \
  > "/tmp/oracle_${TAG}_lint.txt" 2>/dev/null
echo "lint exit: $?" >> "/tmp/oracle_${TAG}_lint.txt"
rm -rf .tmp
timeout 5400 python tools/oracle_check.py /root/testdata/sf0.1 \
  > "/tmp/oracle_${TAG}_sf01.txt" 2>/dev/null
echo "sf0.1 exit: $?" >> "/tmp/oracle_${TAG}_sf01.txt"
rm -rf .tmp
SPARK_GRAFT_SPLIT_BYTES=262144 \
timeout 5400 python tools/oracle_check.py /root/testdata/sf0.1 \
  > "/tmp/oracle_${TAG}_sf01_shatter.txt" 2>/dev/null
echo "sf0.1 shattered exit: $?" >> "/tmp/oracle_${TAG}_sf01_shatter.txt"
rm -rf .tmp
