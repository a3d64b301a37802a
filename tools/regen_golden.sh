#!/bin/bash
# Regenerate the committed golden-fixture parquet under golden/<sf>/ from the
# sequential twin (graft.golden.GoldenGen, on the test classpath). Run after
# ANY change that affects pipeline/LSH semantics, then re-run Verify +
# tools/compare_oracle.py.
set -euo pipefail
cd "$(dirname "$0")/.."
for sf in sf0.001 sf0.01 sf0.1; do
  mkdir -p "golden/$sf"
  SPARK_DRIVER_MEM=12g SPARK_GRAFT_CPUS=8 sbt -batch \
    "Test/runMain graft.golden.GoldenGen /root/testdata/$sf $PWD/golden/$sf" 2>/dev/null \
    | grep '\[golden\]'
done
