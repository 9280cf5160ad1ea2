#!/bin/bash
# Solo per-query bench bands: one FRESH JVM per query (the judge's
# adjudication method for suite-position noise), 5 repeats each via
# graft.SoloBands. Appends one JSON line per query to OUT. A query whose
# timed run fails gets a "status":"error" line and SoloBands exits 1;
# under pipefail that stops this script after appending that line.
#
# Usage: tools/solo_bands.sh OUT query [query ...]
#   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
#        SPARK_GRAFT_CPUS   (default 32)
#        SPARK_GRAFT_REPEAT (default 5)
set -euo pipefail
out=$1; shift
: > "$out"
for q in "$@"; do
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_REPEAT="${SPARK_GRAFT_REPEAT:-5}" \
  sbt -batch "runMain graft.SoloBands $q" 2>/dev/null | grep '^{"q"' >> "$out"
  tail -1 "$out"
done
