#!/usr/bin/env bash
# Mechanical verification: regenerates every README-grade claim.
#   tools/verify.sh            # pytest + sf0.01 gate + bench
#   tools/verify.sh --full     # also the sf0.1 oracle gate and the CEP
#                              # family at all three scales on 4 cores (slow)
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
  # the 59-query CEP family (not '*cep*': that also matches
  # setop_except* and tpcds_q_except_count)
  cep=('cep_*' 'stream_cep_*' 'flink_sql_mr_*' 'flink_sql_match_recognize*'
       'stream_match_recognize_define')
  for sf in sf0.001 sf0.01 sf0.1; do
    echo "== CEP family @ $sf, 4 cores =="
    SPARK_GRAFT_CPUS=4 python tools/compare.py "/root/testdata/$sf" "${cep[@]}" \
      2>/dev/null | tail -1
  done
fi

echo "== bench @ sf0.1 =="
python bench.py 2>/dev/null
