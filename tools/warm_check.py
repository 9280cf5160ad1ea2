#!/usr/bin/env python3
"""Warm-staging budget gate (r13 verdict #7): the off-clock `_warm:` lines
(family caches, layout views) exist to FIX cross-consumer attribution, not
to hide query cost — and they grew by one producer per round (r13: 17.8s
across 10 producers, ~7% of the bench clock). This asserts the stated
ceiling so the convention can't silently absorb query time:

  sum(_warm:* seconds, excluding _warm:io_preamble)
      <= WARM_BUDGET_FRACTION * sum(timed query seconds)

io_preamble is excluded by design: it is a measurement-stabilization
artifact (page-cache re-warm of the input tables, the r10/r11 cross-context
adjudication), not a staged query intermediate — no query could have paid
it as plan cost. The second half of the convention — every staged frame has
>= 2 consumers — is structural (documented and enforced in
PipelineQueries.stageFamilyCaches's comments / JobServerSpec) and not
re-checked here.

Usage: tools/warm_check.py [bench_jsonl]   (default: latest BENCH_LOCAL_r*)
Exit 1 if over budget.
"""
import glob
import json
import sys

WARM_BUDGET_FRACTION = 0.10

path = sys.argv[1] if len(sys.argv) > 1 else sorted(glob.glob("BENCH_LOCAL_r*.jsonl"))[-1]
warm, timed = 0.0, 0.0
producers = []
for line in open(path):
    line = line.strip()
    if not line or '"q"' not in line:
        continue
    row = json.loads(line)
    if row.get("status") == "error":
        continue  # no time to count; band_check.py fails the run on it
    q, sec = row["q"], row["sec"]
    if q.startswith("_warm:"):
        if q != "_warm:io_preamble":
            warm += sec
            producers.append((q, sec))
    else:
        # REPEAT runs emit name#i — count every timed leg; the ratio is
        # warm-per-run over timed-per-run either way since warm runs once
        timed += sec

limit = WARM_BUDGET_FRACTION * timed
status = "OK" if warm <= limit else "OVER"
print(f"warm_check: {status} — staging {warm:.1f}s over {len(producers)} producers "
      f"vs budget {limit:.1f}s ({WARM_BUDGET_FRACTION:.0%} of {timed:.1f}s timed) [{path}]")
if warm > limit:
    for q, sec in sorted(producers, key=lambda x: -x[1]):
        print(f"  {q}: {sec:.2f}s")
    sys.exit(1)
