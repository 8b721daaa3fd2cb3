#!/bin/bash
# Round-5 scaling campaigns, sequential, quiet-box protocol.
cd /root/repo
mkdir -p bench_logs
{
echo "=== cc 4M campaign start $(date -u +%H:%M:%S) ==="
python scripts/cc_scaling_bench.py 4000000 4 16 2
echo "rc=$? end $(date -u +%H:%M:%S)"
} > bench_logs/r5_cc_4m_4v16.log 2>&1
{
echo "=== cc 16M campaign start $(date -u +%H:%M:%S) ==="
python scripts/cc_scaling_bench.py 16000000 4 16 2
echo "rc=$? end $(date -u +%H:%M:%S)"
} > bench_logs/r5_cc_16m_4v16.log 2>&1
{
echo "=== ner 150k campaign start $(date -u +%H:%M:%S) ==="
python scripts/ner_scaling_bench.py 150000 4 16 2
echo "rc=$? end $(date -u +%H:%M:%S)"
} > bench_logs/r5_ner_150k_4v16.log 2>&1
echo "ALL R5 CAMPAIGNS DONE $(date -u +%H:%M:%S)"
