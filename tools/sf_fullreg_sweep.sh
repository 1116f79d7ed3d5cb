#!/bin/bash
# Full-registry two-decade sweep: EVERY SparkEntry query at sf1 (10x the
# driver sf0.1 data) and sf10 (100x), single run per query at both scales
# (same estimator at both ends => clean within-sweep ratios; min-of-2
# would double the CPU-bound Levenshtein verify's ~10 min sf10 leg for no
# extra information). Corpora come from graft.ScaleUp if absent.
set -e
cd /root/repo

gen() { # gen <out> <factor>
  [ -d "$1" ] || tools/runjava.sh graft.ScaleUp /root/testdata/sf0.1 "$1" "$2"
}
gen target/sf1 10
gen target/sf10 100

run() { # run <sfdir> <tag>
  echo "=== full-registry bench $2 ($1) ==="
  SPARK_DRIVER_MEM=48g SPARK_GRAFT_BENCH_RUNS=1 \
    tools/runjava.sh graft.Bench "$1" 2>/dev/null | tail -1
  cp target/bench_full.json "target/bench_fullreg_$2.json"
}

run target/sf1  sf1
run target/sf10 sf10
echo FULLREG_SWEEP_DONE
