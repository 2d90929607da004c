#!/bin/bash
# r15 measurement batches (run serially, idle machine):
#  1. pl_dedup_incr_fixed at sf1 + sf10 (bucket-pruned index layout)
#  2. pl_rand_index sf10 cold + warm reps in one JVM
#  3. q_asof_stream / q_interval_stream at sf1 + sf10 (first sf10 rows)
#  4. q_sessionize_stream at sf1 + sf10 (auto-sized state partitions)
# Each gate runs in its own fresh sbt-forked JVM via a targeted Bench.
set -x
cd /root/repo
run() { # run <sfdir> <gate> [env...]
  local sf="$1" gate="$2"; shift 2
  env "$@" SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench =$gate" 2>/dev/null | grep '"metric"'
}
echo "=== incr_fixed sf1";  run /dev/shm/sf1  pl_dedup_incr_fixed
echo "=== incr_fixed sf10"; run /dev/shm/sf10 pl_dedup_incr_fixed
# rand_index via ProbeNd (cold warmup + warm reps in ONE JVM — the
# warm rerun is where cache churn shows): copy tools/ProbeNd.scala into
# src/main/scala/graft/ first, remove after. The disk_only storage arm
# is gone with its knob: detector caches have one storage level.
echo "=== rand_index sf10 (cold+2 warm)"
PROBE_BENCH_ONLY=1 PROBE_GATE=pl_rand_index PROBE_REPS=2 \
  sbt -batch "runMain graft.ProbeNd /dev/shm/sf10" 2>/dev/null | grep '\[probe\]'
echo "=== asof_stream sf1";  run /dev/shm/sf1  q_asof_stream
echo "=== asof_stream sf10"; run /dev/shm/sf10 q_asof_stream
echo "=== interval_stream sf1";  run /dev/shm/sf1  q_interval_stream
echo "=== interval_stream sf10"; run /dev/shm/sf10 q_interval_stream
echo "=== sessionize sf1 (auto parts)";  run /dev/shm/sf1  q_sessionize_stream
echo "=== sessionize sf10 (auto parts)"; run /dev/shm/sf10 q_sessionize_stream
git checkout bench_full.json
