#!/usr/bin/env python3
"""Diff two bench runs and separate real per-query moves from noise.

Two noise defenses on top of the raw 1.5x ratio gate:

  1. RUN DRIFT: the box's co-tenant load moves WHOLE runs by +/-20%
     (r10: four runs on near-identical surfaces spanned 61.6..79.1s).
     Per-query ratios are normalized by the run-pair median ratio before
     the gate, so a uniformly-slower run doesn't flag everything.
  2. DRAW ENVELOPE: graft.Bench records every timed draw per query
     ("draws": best-of-N inputs, not just the min). A flagged move is
     classified as noise only when the two draw intervals [min..max]
     overlap by >= OVERLAP_FRAC of the narrower interval -- a mere
     touch at the edge of a wide old-run spread no longer silently
     demotes a genuine regression (each noise line prints the overlap
     fraction and both interval widths so the call is auditable).
     Runs recorded before the draws field fall back to the ratio gate
     alone.

Plan changes come first: graft.Bench records each query's warm-run
counters ("counters": jobs, build jobs, stages, tasks, shuffle records),
which do not move with co-tenant load, so every query whose counters
differ between the two runs is printed as a plan change. Runs recorded
before the counters field fall back to the wall diff alone.

Usage:
  python3 tools/bench_diff.py              # last two BENCH_HISTORY.jsonl runs
  python3 tools/bench_diff.py old.json new.json

graft.Bench appends every run's complete JSON line to BENCH_HISTORY.jsonl
(BENCH_SELF.json is overwritten per run; the driver's BENCH_r*.json files
keep only a truncated tail), so the no-arg form compares the last run
against the one before it.
"""
import json
import math
import sys
from statistics import median

THRESH = 1.5
MIN_SEC = 0.05  # ignore ratio churn under this floor (timer noise)
OVERLAP_FRAC = 0.5  # min overlap share of the narrower draw interval


def load(path):
    # bench files are one JSON line, possibly preceded by log noise
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{") and '"queries"' in line:
                return json.loads(line)
    sys.exit(f"{path}: no bench JSON line found")


def last_two_history():
    try:
        with open("BENCH_HISTORY.jsonl") as f:
            lines = [l for l in f if l.strip().startswith("{")]
    except FileNotFoundError:
        sys.exit("no BENCH_HISTORY.jsonl yet (run graft.Bench twice), "
                 "or pass two files explicitly")
    if len(lines) < 2:
        sys.exit(f"BENCH_HISTORY.jsonl has {len(lines)} run(s); need 2")
    return json.loads(lines[-2]), json.loads(lines[-1])


COUNTERS = ("jobs", "build_jobs", "stages", "tasks", "shuffle_records")


def counter_changes(old, new):
    """[(query, [(counter, old, new)])] for every query whose counters
    differ, or None when either run predates the counters field."""
    oc, nc = old.get("counters"), new.get("counters")
    if oc is None or nc is None:
        return None
    changes = []
    for q in sorted(set(oc) & set(nc)):
        moved = [(k, oc[q].get(k), nc[q].get(k)) for k in COUNTERS
                 if oc[q].get(k) != nc[q].get(k)]
        if moved:
            changes.append((q, moved))
    return changes


def ok_num(x):
    return isinstance(x, (int, float)) and not math.isnan(x)


def main():
    if len(sys.argv) > 2:
        old_path, new_path = sys.argv[1], sys.argv[2]
        old, new = load(old_path), load(new_path)
    else:
        old_path, new_path = ("BENCH_HISTORY.jsonl[-2]",
                              "BENCH_HISTORY.jsonl[-1]")
        old, new = last_two_history()
    oq, nq = old["queries"], new["queries"]
    od, nd = old.get("draws", {}), new.get("draws", {})
    # NaN times (a query whose every timed draw errored) must not reach
    # the drift median — NaN poisons sorted() and the division chain
    ratios = [nq[q] / oq[q] for q in set(oq) & set(nq)
              if ok_num(oq[q]) and ok_num(nq[q]) and oq[q] > 0
              and max(oq[q], nq[q]) >= MIN_SEC]
    drift = median(ratios) if ratios else 1.0
    signal, noise, band = [], [], []
    for q in sorted(set(oq) | set(nq)):
        a, b = oq.get(q), nq.get(q)
        if a is None or b is None or not ok_num(a) or not ok_num(b):
            why = ("added" if a is None else
                   "removed" if b is None else "errored (NaN time)")
            signal.append((q, a if ok_num(a) else None,
                           b if ok_num(b) else None, why))
            continue
        if max(a, b) < MIN_SEC:
            continue
        raw = b / a if a > 0 else float("inf")
        norm = raw / drift
        if norm <= THRESH and norm >= 1 / THRESH:
            band.append(raw)
            continue
        why = (f"{'slower' if raw > 1 else 'faster'} {raw:.2f}x "
               f"({norm:.2f}x drift-adj)")
        da, db = od.get(q), nd.get(q)
        if da and db:
            ov = min(max(da), max(db)) - max(min(da), min(db))
            wa, wb = max(da) - min(da), max(db) - min(db)
            wmin = min(wa, wb)
            # degenerate (single-draw) interval: overlap FRACTION is
            # undefined, so FAIL OPEN to signal — a lone new draw
            # sitting inside a wide old spread is exactly the
            # edge-touch demotion this gate exists to prevent
            frac = ov / wmin if wmin > 0 else 0.0
            detail = (f" [draw overlap {max(frac, 0):.2f} of narrower; "
                      f"widths {wa:.3f}s/{wb:.3f}s]")
            if frac >= OVERLAP_FRAC:
                noise.append((q, a, b, why + detail))
            else:
                signal.append((q, a, b, why + detail))
        else:
            signal.append((q, a, b, why))
    print(f"old: {old_path} total={old['value']:.2f}s "
          f"({len(oq)} queries)")
    print(f"new: {new_path} total={new['value']:.2f}s "
          f"({len(nq)} queries)  run-drift={drift:.2f}x")
    changes = counter_changes(old, new)
    if changes is None:
        print("counters: missing from a run (older history line); "
              "wall diff only")
    elif not changes:
        print(f"counters: no plan change "
              f"({len(set(old['counters']) & set(new['counters']))} "
              f"queries in both runs)")
    else:
        print(f"\nPLAN CHANGES ({len(changes)} queries whose warm-run "
              f"counters differ):")
        for q, moved in changes:
            print(f"  {q:35s} " + ", ".join(
                f"{k} {a} -> {b}" for k, a, b in moved))
        print()
    # family rollup (r14): with ~140 heterogeneous queries the scalar
    # total is noise-dominated — per-family minima totals are the
    # attributable round-over-round unit. graft.Bench emits "families";
    # older runs fall back silently.
    of, nf = old.get("families"), new.get("families")
    if of and nf:
        print("families (minima totals, raw / drift-adjusted):")
        for fam in sorted(set(of) | set(nf)):
            a = of.get(fam, {}).get("total")
            b = nf.get(fam, {}).get("total")
            if a is None or b is None:
                print(f"  {fam:12s} "
                      f"{'-' if a is None else f'{a:7.2f}s'} -> "
                      f"{'-' if b is None else f'{b:7.2f}s'}")
            else:
                r = b / a if a > 0 else float("inf")
                print(f"  {fam:12s} {a:7.2f}s -> {b:7.2f}s  "
                      f"{r:.2f}x raw, {r / drift:.2f}x drift-adj "
                      f"(n={nf[fam].get('n')})")
    if band:
        lo, hi = min(band), max(band)
        print(f"in-band ({len(band)} queries): raw ratios "
              f"{lo:.2f}x..{hi:.2f}x")
    if noise:
        print(f"\nnoise ({len(noise)} — beyond {THRESH}x but draw "
              f"intervals overlap >= {OVERLAP_FRAC} of the narrower):")
        for q, a, b, why in noise:
            print(f"  {q:35s} {a:8.3f}s -> {b:8.3f}s  {why}")
    if not signal:
        print(f"\nno SIGNAL moves beyond {THRESH}x (drift-adjusted)")
        return
    print(f"\nSIGNAL (> {THRESH}x drift-adjusted move with draw overlap "
          f"< {OVERLAP_FRAC}, or added/removed):")
    for q, a, b, why in signal:
        fa = "-" if a is None else f"{a:.3f}s"
        fb = "-" if b is None else f"{b:.3f}s"
        print(f"  {q:35s} {fa:>9} -> {fb:>9}  {why}")


if __name__ == "__main__":
    main()
