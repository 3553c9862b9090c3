#!/usr/bin/env bash
# CI-shaped gate: the four checks a change must pass.
#   1. sbt test                 (ScalaTest suite green, no fewer passed
#                                tests than tools/test_floor, and no
#                                HintErrorLogger or trivially-true join
#                                predicate warning in its log)
#   2. Verify + DuckDB compare  (every query runs; every oracle-backed one
#                                is bit-exact at sf0.01)
#   3. perfbench unit tests     (the benchmark's own tests)
#   4. No stowaways             (every query Verify wrote has a SURVEY §2 row)
# The benchmark itself is `python3 perfbench/run.py` (see BENCHMARK.json).
# Usage: tools/gate.sh   (from the repo root)
set -uo pipefail
cd "$(dirname "$0")/.."

fail=0
out=/tmp/gate_verify_out

echo "=== gate 1/4: sbt test ==="
if ! sbt -batch test > /tmp/gate_test.log 2>&1; then
  echo "GATE FAIL: sbt test"; fail=1
fi
tail -4 /tmp/gate_test.log
# the suite must not shrink silently: a change that removes tests on
# purpose lowers the committed floor in the same change
floor=$(cat tools/test_floor)
passed=$(grep -oE 'Tests: succeeded [0-9]+' /tmp/gate_test.log | tail -1 | grep -oE '[0-9]+$')
if [ "${passed:-0}" -lt "$floor" ]; then
  echo "GATE FAIL: ${passed:-0} tests passed, below the floor of $floor (tools/test_floor)"
  fail=1
fi
# a join hint on a frame that is not a join side does nothing, and a
# join key comparing a frame's column with itself holds only through
# Dataset.join's self-join rewrite; Spark only logs either: the suite
# must not log one
for warning in 'HintErrorLogger' 'Constructing trivially true equals predicate'; do
  n=$(grep -c "$warning" /tmp/gate_test.log)
  if [ "$n" -ne 0 ]; then
    echo "GATE FAIL: $n '$warning' warnings in the sbt test log"; fail=1
  fi
done

echo "=== gate 2/4: verify vs DuckDB oracles (sf0.01) ==="
rm -rf "$out"
if ! sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" \
    > /tmp/gate_verify.log 2>&1; then
  echo "GATE FAIL: Verify run"; fail=1
fi
# a rows-only query has no oracle to fail, so a query that throws is
# caught here: Verify reports it and removes its output directory
if grep -E '^(\[error\] )?\[verify\] .* failed' /tmp/gate_verify.log; then
  echo "GATE FAIL: queries failed in Verify"; fail=1
fi
if ! python3 tools/check_oracles.py /root/testdata/sf0.01 "$out"; then
  echo "GATE FAIL: oracle mismatch"; fail=1
fi

echo "=== gate 3/4: perfbench unit tests ==="
if ! python3 -m unittest discover -s perfbench/tests; then
  echo "GATE FAIL: perfbench tests"; fail=1
fi

echo "=== gate 4/4: no stowaway queries ==="
# Every registered query Verify wrote an output directory for must have
# a SURVEY.md row (backtick-quoted, the §2 convention) — a query
# registered without one ships un-audited.
if ! python3 - "$out" <<'EOF'
import os, sys
out = sys.argv[1]
keys = sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))
if not keys:
    print('no Verify output directories to check'); sys.exit(1)
survey = open('SURVEY.md').read()
missing = [k for k in keys if f'`{k}`' not in survey]
if missing:
    print('stowaway (no SURVEY row):', ', '.join(missing))
print(f'{len(keys) - len(missing)}/{len(keys)} queries have a SURVEY row')
sys.exit(1 if missing else 0)
EOF
then
  echo "GATE FAIL: stowaway queries"; fail=1
fi

if [ "$fail" -ne 0 ]; then echo "GATE: FAIL"; exit 1; fi
echo "GATE: PASS"
