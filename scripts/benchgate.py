#!/usr/bin/env python3
"""Bench budget gate: fails if any query in target/bench_full.json exceeds
the per-query budget, recorded -1 (failed/timed out), or the TOTAL exceeds
2x the official recorded baseline (scripts/baseline.json — the ONE source
of the baseline constant; BASELINE.md narrates it).

The gate REFUSES to run when the bench's sf/cpus/methodology do not match
the baseline's: comparing a local[4] or sf0.01 run against the sf0.1
local[32] baseline would pass or fail meaninglessly (round-6 ADVICE).

Usage: python3 scripts/benchgate.py [budget_sec] [bench_full.json]

Run AFTER the last code change of a round (a query added after the final
bench run is exactly how round 4 shipped a bench-killer): the sf0.1 bench
writes target/bench_full.json, then this gate proves no query is
pathological before the driver ever sees it.
"""
import json, os, sys, time

budget = float(sys.argv[1]) if len(sys.argv) > 1 else 30.0
path = sys.argv[2] if len(sys.argv) > 2 else "target/bench_full.json"
baseline_path = os.path.join(os.path.dirname(__file__), "baseline.json")

# Freshness: a bench run that crashed before writing the file would leave
# a STALE json from an earlier run — gating on it would "pass" code that
# was never benched. Refuse anything older than an hour.
age = time.time() - os.path.getmtime(path)
if age > 3600:
    print(f"STALE {path}: written {age/60:.0f} min ago — re-run the bench first")
    sys.exit(1)

baseline = json.load(open(baseline_path))
raw = json.load(open(path))
if "queries" not in raw:
    print(f"LEGACY {path}: bare name->seconds map carries no sf/cpus — "
          "re-run the bench (it now records the measurement environment)")
    sys.exit(1)

mismatches = [k for k in ("sf", "cpus", "methodology")
              if raw.get(k) != baseline[k]]
if mismatches:
    for k in mismatches:
        print(f"ENV MISMATCH {k}: bench={raw.get(k)!r} vs baseline={baseline[k]!r}")
    print("refusing to gate a run whose environment does not match the baseline's")
    sys.exit(1)

d = raw["queries"]
failed = {k: v for k, v in d.items() if v < 0}
slow = {k: v for k, v in d.items() if v > budget}
for k, v in sorted(failed.items()):
    print(f"FAIL {k}: recorded -1 (error or watchdog timeout)")
for k, v in sorted(slow.items(), key=lambda x: -x[1]):
    print(f"SLOW {k}: {v:.1f}s > budget {budget:.0f}s")
total = sum(v for v in d.values() if v >= 0)
# Driver contract: total within 2x of the recorded baseline.
TOTAL_BUDGET = 2 * baseline["total_sec"]
over_total = total > TOTAL_BUDGET
if over_total:
    print(f"TOTAL {total:.1f}s > 2x baseline gate {TOTAL_BUDGET:.0f}s")

# Excursion watchdog (r18 verdict #5): diff this run against the PRIOR
# round's persisted per-query map and flag >3x moves. The r17
# pipeline_curate_standing episode (32.8 s one-off, 6.1 s everywhere
# else) cost a round of mystery because nothing surfaced the outlier at
# gate time; a flagged excursion should trigger two traced perfbench runs
# (parent and change, same seed) compared with scripts/census_diff.py
# BEFORE anyone believes a structural cause. Informational, not fatal:
# cross-epoch totals legitimately swing +-20%, and a 3x single-query move
# is a diagnosis trigger, not proof.
import glob, re
EXCURSION_RATIO = 3.0
NOISE_FLOOR_SEC = 0.5  # sub-noise-floor queries flap on scheduling alone
priors = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                       "bench_full_r*.json")))
excursions = []
if priors:
    prior_path = priors[-1]
    prior = json.load(open(prior_path)).get("queries", {})
    for k, v in d.items():
        pv = prior.get(k)
        if pv is None or pv <= 0 or v <= 0:
            continue
        if max(v, pv) < NOISE_FLOOR_SEC:
            continue
        ratio = v / pv
        if ratio >= EXCURSION_RATIO or ratio <= 1 / EXCURSION_RATIO:
            excursions.append({"query": k, "prior_sec": round(pv, 2),
                               "now_sec": round(v, 2),
                               "ratio": round(ratio, 2)})
    excursions.sort(key=lambda e: -max(e["ratio"], 1 / e["ratio"]))
    for e in excursions:
        direction = "SLOWER" if e["ratio"] > 1 else "faster"
        print(f"EXCURSION {e['query']}: {e['prior_sec']}s -> {e['now_sec']}s "
              f"({e['ratio']}x {direction} vs {os.path.basename(prior_path)})"
              " — compare two traced perfbench runs with"
              " scripts/census_diff.py before assuming code")
    cmp_out = {"prior": os.path.basename(prior_path),
               "ratio_gate": EXCURSION_RATIO,
               "noise_floor_sec": NOISE_FLOOR_SEC,
               "excursions": excursions}
    with open("target/bench_excursions.json", "w") as f:
        json.dump(cmp_out, f, indent=1)

print(f"\n{len(d)} queries, total {total:.1f}s (gate {TOTAL_BUDGET:.0f}s), "
      f"{len(failed)} failed, {len(slow)} over budget, "
      f"{len(excursions)} excursions vs prior round")
sys.exit(1 if failed or slow or over_total else 0)
