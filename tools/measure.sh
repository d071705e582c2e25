#!/bin/bash
# End-of-round measurement block: correctness gate, demos, two bench
# sessions with the scale curve between them, and the anchor-normalized
# drift report for the pair.
#   tools/measure.sh r18
# The round label sets SPARK_GRAFT_ROUND (<round>-s1, <round>-s2: the
# bench_history.tsv session labels), the bench output files
# (tools/bench_<round>_s1.json, /tmp/bench_<round>_s2.json) and the
# session pair bench_drift.py compares.
# Run SEQUENTIALLY on a quiet box (never overlap with sbt/package — a jar
# replaced under a running JVM kills it with "zip END header not found").
set -o pipefail  # each EXIT= line reports the program's status, not tail's
[ $# -eq 1 ] || { echo "usage: $0 <round>" >&2; exit 64; }
R=$1
cd "$(dirname "$0")/.."
echo "== [1/6] full correctness gate (sf0.01) =="
SPARK_GRAFT_CPUS=8 tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vfull \
  2>/tmp/m_verify_err.txt | tail -2
python3 tools/check.py /root/testdata/sf0.01 /tmp/vfull 2>&1 | tail -3
echo "== [2/6] demos =="
tools/run.sh graft.app.PipelineDemo 5000 2>/dev/null | tail -3; echo "PipelineDemo EXIT=$?"
tools/run.sh graft.app.StreamDemo 2000 3 2>/dev/null | tail -2; echo "StreamDemo EXIT=$?"
tools/run.sh graft.app.CorpusPipeline /root/testdata/sf0.01 2>/dev/null | tail -20; echo "CorpusPipeline EXIT=$?"
tools/run.sh graft.app.WarehouseDemo 2>/dev/null | tail -3; echo "WarehouseDemo EXIT=$?"
tools/run.sh graft.app.ExplainAudit 2>/dev/null | tail -3; echo "ExplainAudit EXIT=$?"
echo "== [3/6] bench sf0.1 session 1 (anchor + history) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_ROUND=$R-s1 SPARK_GRAFT_BENCH_OUT=tools/bench_${R}_s1.json \
  tools/run.sh graft.Bench 2>/tmp/m_bench_err.txt | tail -1
echo "== [4/6] scale curve =="
SPARK_DRIVER_MEM=64g SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  tools/run.sh graft.app.ScaleCurve 2>/tmp/m_curve_err.txt | tee /tmp/scale_curve_new.txt
echo "CURVE_EXIT=$?"
echo "== [5/6] bench sf0.1 session 2 (same-binary spread) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_ROUND=$R-s2 SPARK_GRAFT_BENCH_OUT=/tmp/bench_${R}_s2.json \
  tools/run.sh graft.Bench 2>/tmp/m_bench_errB.txt | tail -1
echo "== [6/6] anchor-normalized drift report (s1 vs s2: should be quiet) =="
python3 tools/bench_drift.py "$R-s1" "$R-s2"
echo "DRIFT_EXIT=$?"
