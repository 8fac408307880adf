#!/bin/bash
# Six-sweep correctness ladder at the CURRENT registry (round-14
# procedure, run it serially on a quiet box AFTER all dev lands):
#   local[8]        sf0.01 -> CORRECTNESS_LOCAL.json        (~5 min)
#   local[8]        sf0.1  -> CORRECTNESS_LOCAL_SF01_r$R    (~8 min)
#   local[8]        sf1    -> CORRECTNESS_LOCAL_SF1_r$R     (~27 min)
#   local-cluster   sf0.01 -> CORRECTNESS_LOCALCLUSTER_r$R  (~5 min)
#   local-cluster   sf0.1  -> CORRECTNESS_LOCALCLUSTER_SF01_r$R (~8 min)
#   local-cluster   sf1    -> CORRECTNESS_LOCALCLUSTER_SF1_r$R  (~27 min)
# Usage: R=15 tools/run_archives.sh   (R = round number for filenames)
set -euo pipefail
cd "$(dirname "$0")/.."
R="${R:?set R=<round number>}"
LC='local-cluster[2,4,4096]'

python tools/driver_sim.py CORRECTNESS_LOCAL.json
SPARK_GRAFT_SIM_SF=/root/testdata/sf0.1 SPARK_GRAFT_SIM_DRIVER_MEM=8g \
  python tools/driver_sim.py "CORRECTNESS_LOCAL_SF01_r${R}.json"
SPARK_GRAFT_SIM_SF=scaledata/sf1 SPARK_GRAFT_SIM_DRIVER_MEM=16g \
  python tools/driver_sim.py "CORRECTNESS_LOCAL_SF1_r${R}.json"
SPARK_GRAFT_SIM_MASTER="$LC" \
  python tools/driver_sim.py "CORRECTNESS_LOCALCLUSTER_r${R}.json"
SPARK_GRAFT_SIM_MASTER="$LC" SPARK_GRAFT_SIM_SF=/root/testdata/sf0.1 SPARK_GRAFT_SIM_DRIVER_MEM=8g \
  python tools/driver_sim.py "CORRECTNESS_LOCALCLUSTER_SF01_r${R}.json"
SPARK_GRAFT_SIM_MASTER="$LC" SPARK_GRAFT_SIM_SF=scaledata/sf1 SPARK_GRAFT_SIM_DRIVER_MEM=16g \
  python tools/driver_sim.py "CORRECTNESS_LOCALCLUSTER_SF1_r${R}.json"
echo "ARCHIVES_DONE r${R}"
