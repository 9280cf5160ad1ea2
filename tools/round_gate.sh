#!/bin/bash
# Round gate — the checks a round must pass BEFORE its snapshot, as one
# command (the r9 verdict's ask: a band violation must be caught in-round
# by the builder, not post-hoc by the judge).
#
#   1. full Bench at sf0.1 (writes BENCH_LOCAL_r<N>.jsonl + STREAM_METRICS)
#      — FIRST, on the quiet machine: the r10 drift adjudication
#      (BASELINE.md) showed a bench run right after the test suite reads
#      the whole query set ~8-15% hot, which is exactly the phantom-drift
#      signature the bands exist to kill. Bench exits 1 when any query's
#      timed run fails ("status":"error" line), and pipefail makes that
#      fail the gate here
#   2. sbt test green (570+ ScalaTest cases)
#   3. band_check: no query's in-suite time breaches its committed solo
#      band by >30% (tools/band_check.py, exit 1 on violation); STALE
#      bands (in-suite median BELOW the band's solo floor — the query got
#      faster after banding) are auto-refreshed via tools/reband.sh and
#      the check re-run; a "status":"error" line is a violation too
#   4. stream_check: no streaming tag's rows/sec halved vs the previous
#      round's committed STREAM_METRICS artifact
#
# env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
#      SPARK_GRAFT_CPUS   (default 32)
set -euo pipefail
cd "$(dirname "$0")/.."

SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
sbt -batch "runMain graft.Bench" | grep -E '^\{"(q|metric)"' | tail -3

sbt -batch test

# band_check: exit 1 = a real violation (fail the gate); exit 2 = stale
# bands only (the query got FASTER than its band floor) — auto-refresh
# those via one solo re-band per stale query, then re-check.
rc=0
python3 tools/band_check.py || rc=$?
if [ "$rc" = 2 ]; then
  round=$(ls BENCH_r*.json 2>/dev/null | sed -E 's/.*_r0*([0-9]+).*/\1/' | sort -n | tail -1)
  out=$(printf 'SOLO_BANDS_r%02d.jsonl' $((${round:-0} + 1)))
  tools/reband.sh "$out"
  # Post-reband re-check: exit 2 here means a query's in-suite median
  # still sits below its FRESH solo floor*2/3 — possible because the
  # suite's long-lived JVM can run up to ~31% below a same-day solo
  # band (band_check's measured bias) while the stale cutoff is 33%.
  # The reband we just ran is the only remediation the gate has, so a
  # residual exit 2 is a WARNING (no regression is indicated — the
  # query is FASTER than its band), not a gate failure; only exit 1
  # (a real over-band violation) fails the gate.
  rc2=0
  python3 tools/band_check.py || rc2=$?
  if [ "$rc2" = 2 ]; then
    echo "round gate: WARNING — bands still stale after reband (suite-vs-solo bias); not a regression"
  elif [ "$rc2" != 0 ]; then
    exit "$rc2"
  fi
elif [ "$rc" != 0 ]; then
  exit "$rc"
fi
python3 tools/stream_check.py

# warm-staging budget (r13 verdict #7): off-clock `_warm:` staging must
# stay <= 10% of the timed bench clock (io_preamble excluded — it is a
# measurement artifact, not staged query cost); every staged frame must
# keep >= 2 consumers (structural, see stageFamilyCaches).
python3 tools/warm_check.py

echo "round gate: ALL GREEN"
