#!/bin/sh
# One entry point for the ad-hoc performance probes (VERDICT r14 #9).
#
# Probes are same-JVM A/B harnesses for ONE suspect operator family:
# they exist to answer "is this row slow because of the plan or the
# box?" head-to-head, with fixture plumbing shared through the same
# Tables loader as the suite. They are NOT part of the gate (Verify)
# or the record (Bench) — their numbers land in BASELINE.md prose.
#
# Usage:
#   sh scripts/probe.sh <name> [sf_dir] [mem]
#
#   name    a probe name; `graft.Probe` holds the list and prints it
#           for an unknown or missing name
#   sf_dir  fixture dir (default /tmp/sf1); sf0.1 fixtures are at
#           /root/testdata/sf0.1, larger ones are built with
#           `sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf10 100"`
#   mem     driver heap (default 96g for scale dirs, 8g for sf0.1)
#
# Examples:
#   sh scripts/probe.sh fuzzy /tmp/sf10        # d=1 split route vs generic
#   sh scripts/probe.sh ppjoin /tmp/sf1        # sketch-prune kill rate
#   sh scripts/probe.sh stream /tmp/sf1        # harness vs operator faces
set -e
cd "$(dirname "$0")/.."

NAME="$1"
SF_DIR="${2:-/tmp/sf1}"
case "$SF_DIR" in
  */sf0.1|*/sf0.01|*/sf0.001) DEFMEM=8g ;;
  *) DEFMEM=96g ;;
esac
MEM="${3:-$DEFMEM}"

echo "probe: graft.Probe $NAME at $SF_DIR (driver $MEM)"
exec env SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_DRIVER_MEM="$MEM" sbt -batch "runMain graft.Probe $NAME"
