#!/usr/bin/env python3
"""Round-close bench-regression gate (round-14 verdict item 7): diff a fresh
bench stamp against the prior committed record, with sentinel normalization
and a ratio threshold, so apparent per-key regressions are machine-checked
instead of hand-adjudicated every round.

Sentinel normalization: each run carries a load sentinel (min-of-3 timings
of one fixed compute job at start/mid/end). The per-run sentinel median is
a machine-speed proxy for that run; new times are rescaled by
old_sentinel/new_sentinel before the ratio test, so a uniformly slower box
doesn't read as 440 regressions.

A key is flagged only if BOTH hold after normalization:
  - ratio  > threshold   (default 1.4x)
  - delta  > abs_floor   (default 0.30 s — sub-noise keys can triple and
                          still not matter; the committed record's own noise
                          mode is ~0.05-0.1 s)

Exit status 1 if any key is flagged (usable as a gate), OR if the NEW run
itself is load-flagged (round-16 verdict item 3: a flagged run may not
become the committed round record — rerun on a quiet box instead of
adjudicating per-key ghosts).

Usage: bench_regress.py <old_record.json> <new_stamp.json>
                        [ratio=1.4] [abs_floor=0.30]
"""
import json
import statistics
import sys

old = json.load(open(sys.argv[1]))
new = json.load(open(sys.argv[2]))
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.4
floor = float(sys.argv[4]) if len(sys.argv) > 4 else 0.30


def sentinel_median(run):
    s = run.get("load_sentinel", {})
    vals = [s.get(k) for k in ("start", "mid", "end") if s.get(k)]
    return statistics.median(vals) if vals else None


# Cross-core refusal (round-17 verdict item 2): the driver also benches at a
# lower core count for its scaling measurement; comparing an 8-core run to a
# 32-core record manufactures uniform phantom deltas. Records since round 18
# carry "cpus"; older records were all stamped at 32 cores, so when only one
# side carries it the other is taken as 32 (and said so). When the two
# disagree, refuse outright.
RECORD_CPUS = 32
co, cn = old.get("cpus"), new.get("cpus")
if (co is None) != (cn is None):
    tag = "old" if co is None else "new"
    print(f"note: the {tag} record carries no cpus; taking it as "
          f"{RECORD_CPUS}, the record core count")
    co = RECORD_CPUS if co is None else co
    cn = RECORD_CPUS if cn is None else cn
if co is not None and cn is not None and co != cn:
    print(f"REFUSED: cross-core comparison (old cpus={co}, new cpus={cn}) — "
          "core-count changes runtime for every key; rerun the new stamp at "
          "the record core count")
    sys.exit(1)

so, sn = sentinel_median(old), sentinel_median(new)
scale = (so / sn) if (so and sn) else 1.0
any_flagged = False
for tag, run in (("old", old), ("new", new)):
    if run.get("load_sentinel", {}).get("flagged"):
        any_flagged = True
        print(f"WARNING: the {tag} run is load-flagged "
              f"(drift {run['load_sentinel'].get('drift')}) — "
              "per the round-close rule it may not be the committed record")
# a flagged sentinel measures a TRANSIENT, not the machine speed of the
# whole run — normalizing against it manufactures uniform phantom deltas
# (observed: the flagged r14 sentinel median was 2x the clean r15 one
# while raw totals moved 394 -> 367 s). Also refuse implausible factors.
if any_flagged or not (0.67 <= scale <= 1.5):
    print(f"sentinels: old={so} new={sn} — factor {scale:.3f} NOT applied "
          "(flagged or implausible); comparing raw seconds")
    scale = 1.0
else:
    print(f"sentinels: old={so} new={sn} -> normalization factor {scale:.3f}")

qo, qn = old["queries"], new["queries"]
only_old = sorted(set(qo) - set(qn))
only_new = sorted(set(qn) - set(qo))
if only_old:
    print(f"keys only in old ({len(only_old)}): {only_old}")
if only_new:
    print(f"keys only in new ({len(only_new)}): {only_new}")

flagged, improved = [], []
for k in sorted(set(qo) & set(qn)):
    norm = qn[k] * scale
    ratio = norm / qo[k] if qo[k] > 0 else float("inf")
    delta = norm - qo[k]
    if ratio > thr and delta > floor:
        flagged.append((k, qo[k], qn[k], norm, ratio))
    elif ratio < 1 / thr and -delta > floor:
        improved.append((k, qo[k], qn[k], norm, ratio))

tot_o = sum(qo[k] for k in set(qo) & set(qn))
tot_n = sum(qn[k] for k in set(qo) & set(qn))
print(f"common-key totals: old={tot_o:.1f}s new={tot_n:.1f}s "
      f"(normalized {tot_n * scale:.1f}s, {tot_n * scale / tot_o:.3f}x)")

if improved:
    print(f"\nimproved > {thr}x ({len(improved)}):")
    for k, o, n, nn, r in sorted(improved, key=lambda x: x[4]):
        print(f"  {k}: {o:.2f}s -> {n:.2f}s (norm {nn:.2f}s, {r:.2f}x)")

if flagged:
    print(f"\nREGRESSIONS > {thr}x and > {floor}s ({len(flagged)}):")
    for k, o, n, nn, r in sorted(flagged, key=lambda x: -x[4]):
        print(f"  {k}: {o:.2f}s -> {n:.2f}s (norm {nn:.2f}s, {r:.2f}x)")
    print("\nre-probe each with SPARK_GRAFT_KEYS (never stamps) before "
          "accepting the stamp; a real regression needs a SCALE.md entry.")
    sys.exit(1)
if new.get("load_sentinel", {}).get("flagged"):
    print("\nFAIL: the NEW run is load-flagged — it may not be committed as "
          "the round record (rerun up to 3x; else commit least-drift, "
          "annotated). Per-key comparison above is advisory only.")
    sys.exit(1)
print("\nno regressions past the gate")
