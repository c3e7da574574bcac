#!/usr/bin/env bash
# Mechanical verification: regenerates every README-grade claim.
#   tools/verify.sh            # pytest + sf0.01 gate + bench
#   tools/verify.sh --full     # also the sf0.1 oracle gate (slow)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q
python -m pytest perfbench/tests -q

echo "== oracle gate @ sf0.01 (the driver's scale) =="
python tools/compare.py /root/testdata/sf0.01 2>/dev/null | tail -1

if [[ "${1:-}" == "--full" ]]; then
  echo "== oracle gate @ sf0.1 (10x scale) =="
  python tools/compare.py /root/testdata/sf0.1 2>/dev/null | tail -1
fi

echo "== bench @ sf0.1 =="
python bench.py 2>/dev/null
