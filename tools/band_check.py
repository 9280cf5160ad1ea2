#!/usr/bin/env python3
"""Executable form of the round-9 measurement invariant: no query's
in-suite bench time may exceed its committed solo repeat-band by >30%
(suite-position noise must never read as a plan regression — r8 had three
phantom regressions adjudicated by hand; this makes the adjudication a
one-command check).

Usage: tools/band_check.py [BENCH_LOCAL jsonl] [SOLO_BANDS jsonl] [PREV jsonl]
       tools/band_check.py --stale-only [...]   # print stale query names
Exit 1 if any banded query is over or any query failed; exit 2 if none
is over or failed but some band is STALE; prints a per-query verdict either way.

Below the banded set, a SUITE-RELATIVE gate (r11 verdict #2) covers every
UNBANDED query whose in-suite median exceeds 1s: its time is compared
against the PREVIOUS round's committed BENCH_LOCAL (third arg; default =
the second-newest BENCH_LOCAL_r*.jsonl), normalized by the median
cur/prev ratio over all common queries so a uniform environment drift
(the r10/r11 ±14-23% cross-context signature) cancels out. A normalized
ratio > 2.0 is a RELOVER violation (exit 1): r11's judge-diffed movers
read 7.4x (mm_wav_clipping), 3.2x (mm_pipeline_e2e), 2.5x
(rel_agg_distinct) on this metric while the cross-round noise tail sat
at <=2.2x — the threshold splits them mechanically. Remediation for a
RELOVER is the same as for a stale band: solo-band the query
(tools/solo_bands.sh) to get its ground truth, then either fix the plan
or commit the refreshed band. Queries with no previous-round time are
reported NEW (informational — their first band or next-round relative
check picks them up).

Under SPARK_GRAFT_REPEAT>1 the bench emits one line per repeat as
"name#i" — ALL repeats are collected and the MEDIAN is adjudicated
against the band (the min grew monotonically weaker as repeats rose — a
real regression passed if one repeat got lucky; the median still absorbs
single-repeat tail noise without becoming more permissive with more
repeats).

STALE detection (r10 verdict #5): a band is a regression detector only
while the code it measured is current. An in-suite median far BELOW the
band's solo floor means the query got faster after banding (tx_bpe_apply
read 1.34s against a [1.57, 1.80] band in r10) — the band max is then
meaningless as a ceiling. Stale bands are flagged for re-banding
(tools/reband.sh wires this into round_gate.sh).

The stale floor carries a 1/3 margin (vs the ceiling's 30%): in-suite
medians systematically run BELOW fresh solo floors (the suite's
long-lived JVM is C2-warmed across hundreds of queries; a fresh solo JVM
gets one sf0.001 pass + the IO preamble — measured r11: fn_json −25%,
tx_bpe_apply −31% against bands re-measured the SAME DAY), so only a
breach past the worst observed bias indicates a stale band rather than
measurement-context noise; an unmargined floor re-flags the
biggest-bias queries forever and loops the gate's reband step.

A "status":"error" line (a query whose timed run failed, in either file)
is a violation of its own: it prints ERROR <q> and exits 1. Its query is
never banded or medianed — a time-to-failure is not a time.
"""
import json, sys, glob

stale_only = "--stale-only" in sys.argv
argv = [a for a in sys.argv if a != "--stale-only"]


def newest(pattern, what):
    hits = sorted(glob.glob(pattern))
    if not hits:
        sys.exit(f"usage: tools/band_check.py [BENCH_LOCAL jsonl] [SOLO_BANDS jsonl]\n"
                 f"no {what} file matches {pattern!r} in the current directory")
    return hits[-1]


bench = argv[1] if len(argv) > 1 else newest("BENCH_LOCAL_r*.jsonl", "bench")
bands = argv[2] if len(argv) > 2 else newest("SOLO_BANDS_r*.jsonl", "bands")

errors = set()  # base query names with a failed timed run, in either file
qs = {}  # base query name -> list of repeat times
for line in open(bench):
    r = json.loads(line)
    if r.get("status") == "error":
        errors.add(r["q"].split("#")[0])
    elif "q" in r and not r["q"].startswith("_warm"):
        qs.setdefault(r["q"].split("#")[0], []).append(r["sec"])
qs = {q: v for q, v in qs.items() if q not in errors}  # no partial medians

bad, stale = 0, []
for line in open(bands):
    b = json.loads(line)
    if b.get("status") == "error":
        errors.add(b["q"])
        continue
    reps = qs.get(b["q"])
    if not reps:
        if not stale_only and b["q"] not in errors:
            print(f"SKIP {b['q']}: not in {bench}")
        continue
    insec = sorted(reps)[len(reps) // 2]
    limit = b["max"] * 1.3
    if insec > limit:
        verdict = "OVER"
        bad += 1
    elif insec < b["min"] * 2 / 3:
        verdict = "STALE"
        stale.append(b["q"])
    else:
        verdict = "ok"
    if stale_only:
        continue
    rep = f" (med of {len(reps)})" if len(reps) > 1 else ""
    print(f"{verdict:5s} {b['q']:26s} in-suite={insec:6.2f}s{rep} "
          f"band=[{b['min']:.2f},{b['max']:.2f}] limit={limit:.2f}")

if stale_only:
    print("\n".join(stale))
    sys.exit(0)

for q in sorted(errors):
    print(f"ERROR {q:26s} timed run failed (not banded)")

# ---- suite-relative gate over the UNBANDED >1s tail ----------------------
banded = {json.loads(l)["q"] for l in open(bands)}
prevs = [f for f in sorted(glob.glob("BENCH_LOCAL_r*.jsonl")) if f != bench]
prev_f = argv[3] if len(argv) > 3 else (prevs[-1] if prevs else None)
rel_bad = 0
if prev_f:
    prev = {}
    for line in open(prev_f):
        r = json.loads(line)
        if "q" in r and not r["q"].startswith("_warm") and r.get("status") != "error":
            prev.setdefault(r["q"].split("#")[0], []).append(r["sec"])
    prev = {q: sorted(v)[len(v) // 2] for q, v in prev.items()}
    meds = {q: sorted(v)[len(v) // 2] for q, v in qs.items()}
    ratios = sorted(meds[q] / prev[q] for q in meds if q in prev and prev[q] > 0)
    drift = ratios[len(ratios) // 2] if ratios else 1.0
    print(f"\nunbanded >1s vs {prev_f} (uniform drift {drift:.3f} normalized out):")
    for q in sorted(meds):
        if q in banded or meds[q] <= 1.0:
            continue
        if q not in prev:
            print(f"NEW   {q:26s} in-suite={meds[q]:6.2f}s (no previous-round time)")
            continue
        norm = meds[q] / (prev[q] * drift)
        verdict = "RELOVER" if norm > 2.0 else "ok"
        if norm > 2.0:
            rel_bad += 1
        print(f"{verdict:5s} {q:26s} in-suite={meds[q]:6.2f}s "
              f"prev={prev[q]:6.2f}s normalized={norm:4.2f}x limit=2.00x")
else:
    print("\nno previous BENCH_LOCAL found — suite-relative gate skipped")

print(f"\n{bad} violation(s), {rel_bad} relative violation(s), "
      f"{len(errors)} error(s), {len(stale)} stale band(s) — {bench} vs {bands}")
sys.exit(1 if (bad or rel_bad or errors) else (2 if stale else 0))
