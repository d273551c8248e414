#!/bin/sh
# One entry point for the ad-hoc performance probes (VERDICT r14 #9).
#
# Probes answer "is this row slow because of the plan or the box?" for
# one suspect row or operator, on the program's one session factory
# (graft.Session) and run recorder (graft.RunStats), with fixture
# plumbing shared through the same Tables loader as the suite. They
# are NOT part of the gate (Verify) or the record (Bench) — their
# numbers land in BASELINE.md prose.
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
#   SPARK_GRAFT_ONLY=dedup_fuzzy,stream_ewma \
#     sh scripts/probe.sh mini /root/testdata/sf0.1   # re-time named Bench rows
#   GRAFT_CC_N=20000 sh scripts/probe.sh cc /tmp/sf1  # jobs of one CC call
#
# The session's width is SPARK_GRAFT_CPUS, else the processor count.
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
exec env SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_DRIVER_MEM="$MEM" \
  sbt -batch "runMain graft.Probe $NAME"
