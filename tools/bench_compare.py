#!/usr/bin/env python3
"""Regime-matched bench adjudication (BASELINE.md, round 16).

The host is TWO-REGIME (re-confirmed twice in BASELINE.md): raw suite
totals land in a fast (~106 s) or slow (~123 s) class, and the pinned
CPU/fixed probes CANNOT adjudicate which regime a given run landed in
— only per-query comparison against a same-regime anchor can. This
tool makes that adjudication mechanical:

  1. Load BOTH committed anchors:
       BENCH_ANCHOR_FAST.json  (106.9 s / 224 qs, fast window,
                                round-15 tree pre-pipe20/21)
       BENCH_ANCHOR_SLOW.json  (123.5 s / 226 qs, committed r15
                                artifact, cleanest spreads)
  2. Match the incoming run to a regime: per-query ratio
     run/anchor over the shared query set, regime = the anchor whose
     MEDIAN ratio is closer to 1.0.
  3. Within the chosen regime, flag every query past the carried
     rule: run_q > 1.4 * anchor_q + 0.25 s.
  4. Known-stale FAST-anchor entries are adjudicated against SLOW
     instead: ann15_nn_join (the fast anchor predates its promotion
     to nprobe=4) and any query absent from FAST (pipe20/pipe21).
     Queries absent from both anchors are reported as NEW, not
     adjudicated.

Usage: python3 tools/bench_compare.py <bench_json>
  where <bench_json> is a Bench one-line artifact (bench_local.json)
  or a driver BENCH_r{N}.json (per-query pairs recovered from its
  possibly front-truncated `tail`).

Exit code 0 = no flagged regressions, 1 = flags (listed on stdout).
"""
import json
import re
import statistics
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
RULE_MULT = 1.4
RULE_ADD = 0.25
# fast-anchor entries that predate a deliberate, documented cost
# change — adjudicate these against the slow anchor only
FAST_STALE = {"ann15_nn_join"}
# queries round 16+17's optimization passes deliberately made FASTER
# (OPTIMIZATION_r16.md / OPTIMIZATION_r17.md): both anchors predate
# the changes, so their ratios (<1) would bias the regime-matching
# median downward — exclude them from the median; they still get
# flag-adjudicated (a faster query cannot flag, and a FUTURE
# regression past the old anchor's 1.4x+0.25s still fires).
# PROVENANCE: this exclusion is tied to the CURRENT anchors
# (BENCH_ANCHOR_FAST = round-15 tree, BENCH_ANCHOR_SLOW = r15
# committed artifact). When either anchor is regenerated from a
# post-r16 tree, EMPTY this set — the new anchor already carries the
# optimized timings, and a stale exclusion would permanently shrink
# the median sample (r16 advice).
OPTIMIZED_R16 = {
    # round 16
    "c3_narrowed_diff", "d17_band_planner", "a2b_chunk_compare",
    "j4_symmetric_diff", "pipe12_compare_config", "c7_sampled_compare",
    "c2_fix_actions", "t24_dsir_select",
    # round 17: the streaming arms' RAM-backed scratch and narrower
    # state-store width, and pipe2's parquet spool
    "c11_streaming_interval_join", "w12_streaming_sessionize",
    "a43_streaming_drift", "a46_streaming_hll", "a47_streaming_quantiles",
    "a48_streaming_cms", "d15_streaming_near_dup",
    "d16_streaming_exact_dedup", "t25_streaming_dsir_model",
    "pipe19_streaming_admission", "pipe2_migration"}
NON_QUERY_KEYS = {"metric", "value", "sf", "unit", "n", "rc", "cpus",
                  "n_queries"}


def load_queries(path):
    raw = json.loads(Path(path).read_text())
    if isinstance(raw, dict) and isinstance(raw.get("queries"), dict):
        return {k: float(v) for k, v in raw["queries"].items()}
    # driver BENCH_r{N}.json: recover pairs from the tail line, which
    # may be truncated at the FRONT. Cut at the first trailing object
    # ("gc_sec" per-query GC seconds, "rows" per-query ROW COUNTS,
    # "calibration" probes) — their integer pairs would otherwise
    # pollute the timing table.
    tail = raw.get("tail", "") if isinstance(raw, dict) else ""
    for stop in ('"gc_sec"', '"rows"', '"calibration"'):
        cut = tail.find(stop)
        if cut >= 0:
            tail = tail[:cut]
    pairs = re.findall(r'"([A-Za-z][A-Za-z0-9_]*)":([0-9]+(?:\.[0-9]+)?)',
                       tail)
    # a FRONT-truncated tail can clip the first key mid-name — the
    # regex would then capture its suffix as a bogus (or worse,
    # colliding) query name; drop the first pair unless the tail
    # provably starts at the artifact's beginning
    if pairs and not tail.lstrip().startswith('{"metric"'):
        pairs = pairs[1:]
    return {k: float(v) for k, v in pairs if k not in NON_QUERY_KEYS}


def median_ratio(run, anchor):
    shared = [run[q] / anchor[q] for q in run
              if q in anchor and anchor[q] > 0 and q not in OPTIMIZED_R16]
    return statistics.median(shared) if shared else float("inf")


def main():
    if len(sys.argv) != 2:
        print(__doc__)
        return 2
    run = load_queries(sys.argv[1])
    fast = load_queries(REPO / "BENCH_ANCHOR_FAST.json")
    slow = load_queries(REPO / "BENCH_ANCHOR_SLOW.json")
    if not run:
        print("no per-query figures recovered from", sys.argv[1])
        return 2
    mf, ms = median_ratio(run, fast), median_ratio(run, slow)
    regime, anchor = (("fast", fast) if abs(mf - 1) <= abs(ms - 1)
                      else ("slow", slow))
    print(f"queries={len(run)} median_ratio fast={mf:.3f} "
          f"slow={ms:.3f} -> regime={regime}")
    flags, new = [], []
    for q, t in sorted(run.items()):
        a = anchor
        if regime == "fast" and (q in FAST_STALE or q not in fast):
            a = slow
        elif regime == "slow" and q not in slow and q in fast:
            # present only in the OTHER anchor: adjudicate against it
            # rather than silently dropping the query from the gate
            a = fast
        if q not in a:
            if q not in fast and q not in slow:
                new.append(q)
            continue
        limit = RULE_MULT * a[q] + RULE_ADD
        if t > limit:
            flags.append((q, t, a[q], limit))
    for q in new:
        print(f"NEW     {q}: {run[q]:.3f}s (no anchor — record, don't "
              "adjudicate)")
    for q, t, aq, limit in flags:
        print(f"FLAG    {q}: {t:.3f}s vs anchor {aq:.3f}s "
              f"(limit {limit:.3f}s, {regime} regime)")
    if not flags:
        print(f"OK      zero regressions past {RULE_MULT}x+{RULE_ADD}s "
              f"in the {regime} regime")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
