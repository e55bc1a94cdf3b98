#!/usr/bin/env bash
# Every local gate, in order: unit tests, oracle correctness, the legacy
# graft.Bench suite and the end-to-end benchmark declared in
# BENCHMARK.json (perfbench/).
# Usage: tools/run_all_gates.sh   (from the repo root)
set -euo pipefail

echo "== 1/6 unit + integration tests =="
sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2

echo "== 2/6 correctness: sf0.001 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_sf0001" \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/check_correctness.py /root/testdata/sf0.001 /tmp/gate_sf0001 | tail -1

echo "== 3/6 correctness: sf0.01 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_sf001" \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/gate_sf001 | tail -1

echo "== 4/6 legacy graft.Bench suite: sf0.1 (BENCH_r{N} input) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -oE '\{"metric".*'

echo "== 5/6 end-to-end benchmark: harness unit tests =="
python3 -m unittest discover -s perfbench/tests 2>&1 | tail -1

echo "== 6/6 end-to-end benchmark: one short run per BENCHMARK.json workload =="
for w in $(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))'); do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 8 --trace 0 | tail -1
done
