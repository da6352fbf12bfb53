#!/usr/bin/env python3
"""Shared-set comparison of two BENCH_local_*.json records: per-query
median ratio over the intersection, sorted by ratio, with unstable
flags carried so a contaminated median is visible next to its delta.

CALIBRATION (round-12 addition): three consecutive records showed a
monotonic per-job fixed-cost host drift on the byte-identical q_input
probe (0.070 -> 0.097 -> 0.118 s across r9..r11) that inflates every
cross-round ratio. q_input is a pure single-stage parquet count whose
data volume never changes between records at the same SF, so its
ratio IS the record-pair's fixed-cost drift; the calibrated column
divides each raw ratio by it. Regressions should be called on the
CALIBRATED ratio (default threshold 1.3x) with a named cause.
Usage: bench_delta.py OLD.json NEW.json [ratio_threshold=1.3]
"""
import json, sys

old = json.load(open(sys.argv[1]))
new = json.load(open(sys.argv[2]))
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
shared = sorted(set(old['queries']) & set(new['queries']))
uo, un = set(old.get('unstable', [])), set(new.get('unstable', []))
cal = 1.0
qi_old = old['queries'].get('q_input', 0.0)
qi_new = new['queries'].get('q_input', 0.0)
if qi_old > 0 and qi_new > 0 and 'q_input' not in uo and 'q_input' not in un:
    cal = qi_new / qi_old
else:
    print("CALIBRATION SKIPPED (q_input missing, zero, or flagged "
          "unstable in a record) — calibrated column == raw (cal=1.0)")
rows = []
for q in shared:
    a, b = old['queries'][q], new['queries'][q]
    r = b / a if a > 0 else float('inf')
    rows.append((r / cal, r, q, a, b,
                 ('old!' if q in uo else '') + ('new!' if q in un else '')))
rows.sort(reverse=True)
so = sum(old['queries'][q] for q in shared)
sn = sum(new['queries'][q] for q in shared)
print(f"shared {len(shared)} queries: old sum {so:.1f}s new sum {sn:.1f}s "
      f"ratio {sn/so:.2f}x raw, {sn/so/cal:.2f}x calibrated")
print(f"calibration constant (q_input drift): {cal:.3f}x "
      f"({old['queries'].get('q_input', float('nan')):.3f} -> "
      f"{new['queries'].get('q_input', float('nan')):.3f} s)")
print(f"unstable flags: old {len(uo)} new {len(un)}; "
      f"gc: old {old.get('gc_policy','rep?')}/{old.get('gc_secs','?')}s "
      f"new {new.get('gc_policy','rep?')}/{new.get('gc_secs','?')}s")
# gates that threw carry no time, so they are outside the shared set
for tag, rec in (('old', old), ('new', new)):
    if rec.get('failed'):
        print(f"FAILED in {tag}: {' '.join(rec['failed'])}")
print(f"\nqueries over {thr}x CALIBRATED (cal / raw / old -> new):")
for c, r, q, a, b, flag in rows:
    if c > thr:
        print(f"  {c:6.2f}x {r:6.2f}x  {q:32s} {a:8.3f} -> {b:8.3f}  {flag}")
print(f"\nqueries under {1/thr:.2f}x calibrated (improved):")
for c, r, q, a, b, flag in rows:
    if c < 1 / thr:
        print(f"  {c:6.2f}x {r:6.2f}x  {q:32s} {a:8.3f} -> {b:8.3f}  {flag}")
