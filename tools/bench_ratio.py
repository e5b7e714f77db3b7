#!/usr/bin/env python3
"""Merge two Bench runs (bench_full.json format) into a scaling-law
record: per-key seconds at each SF plus the time ratio. Usage:
    python3 tools/bench_ratio.py <bench_lo.json> <bench_hi.json> <out.json> \\
        [--charge key:artifact_prefix ...]
Any Bench record is a valid input: the protocol bench_full.json or a
sidecar such as bench_full.c8.json (another core count) or
bench_full.sf1.c32.json (another corpus dir), e.g. bench_full.c8.json
against bench_full.sf1.c8.json for an 8-core sf0.1 → sf1 leg.
Ratios use a 0.15 s floor on the denominator so fixed-overhead keys
(sub-100 ms at both SFs) don't report meaningless 20x blips.

--charge key:prefix adds each leg's index_staging entries whose label
starts with `prefix` INTO that key's measured seconds (symmetrically in
both legs) before the ratio is computed, and records the charged
amounts per leg. This is for keys whose work product IS a staged
artifact (e.g. sim_ann_recall's eval tables): Bench subtracts staging
from per-key times so the first consumer isn't mis-charged, which
leaves such keys near 0 s — the charge puts the key's own artifact cost
back where a scaling law can see it.
"""
import json, sys


def main(lo_path: str, hi_path: str, out_path: str, *extra) -> int:
    lo = json.load(open(lo_path))
    hi = json.load(open(hi_path))
    charges = {}
    args = list(extra)
    while args:
        a = args.pop(0)
        if a == "--charge":
            k, _, pref = args.pop(0).partition(":")
            charges.setdefault(k, []).append(pref)
        else:
            raise SystemExit(f"unknown arg {a}")

    def charged(leg: dict, key: str) -> float:
        staging = leg.get("index_staging", {})
        return sum(v for lbl, v in staging.items()
                   if any(lbl.startswith(p) for p in charges.get(key, [])))

    qlo, qhi = lo["queries"], hi["queries"]
    keys = sorted(set(qlo) & set(qhi))
    rows = {}
    for k in keys:
        a, b = qlo[k], qhi[k]
        if a < 0 or b < 0:          # error sentinel from Bench
            rows[k] = {"sf_lo": a, "sf_hi": b, "ratio": None, "error": True}
            continue
        ca, cb = charged(lo, k), charged(hi, k)
        a, b = a + ca, b + cb
        rows[k] = {"sf_lo": round(a, 3), "sf_hi": round(b, 3),
                   "ratio": round(b / max(a, 0.15), 2)}
        if ca or cb:
            rows[k]["charged_staging_lo"] = round(ca, 2)
            rows[k]["charged_staging_hi"] = round(cb, 2)
    ratios = sorted(r["ratio"] for r in rows.values() if r.get("ratio"))
    med = ratios[len(ratios) // 2] if ratios else None
    worst = sorted(((r["ratio"], k) for k, r in rows.items() if r.get("ratio")),
                   reverse=True)[:12]
    # totals over the COMPARED key set only, pair-wise filtered: a key
    # that errored in EITHER leg contributes to NEITHER total (the same
    # filter the per-key ratios use) — per-leg filtering would silently
    # compare different key sets whenever exactly one leg errored
    ok = [k for k in keys if qlo[k] >= 0 and qhi[k] >= 0]
    tot_lo = sum(qlo[k] for k in ok)
    tot_hi = sum(qhi[k] for k in ok)
    out = {
        "metric": "sf_scaling",
        "sf_lo": lo.get("sf"), "sf_hi": hi.get("sf"),
        "total_lo": round(tot_lo, 1), "total_hi": round(tot_hi, 1),
        "total_ratio": round(tot_hi / max(tot_lo, 1e-9), 2),
        "index_staging_lo": round(lo.get("index_staging_sec", 0), 1),
        "index_staging_hi": round(hi.get("index_staging_sec", 0), 1),
        # per-artifact staging (VERDICT r13 ask #4), straight from each
        # leg's bench_full.json
        "index_staging_detail_lo": {k: round(v, 2) for k, v in
                                    lo.get("index_staging", {}).items()},
        "index_staging_detail_hi": {k: round(v, 2) for k, v in
                                    hi.get("index_staging", {}).items()},
        "load_lo": lo.get("load"), "load_hi": hi.get("load"),
        "reps_lo": lo.get("reps"), "reps_hi": hi.get("reps"),
        "n_keys": len(keys),
        "median_ratio": med,
        "worst": [{"key": k, "ratio": r} for r, k in worst],
        "errors_lo": lo.get("errors", []), "errors_hi": hi.get("errors", []),
        "queries": rows,
    }
    json.dump(out, open(out_path, "w"), indent=1)
    print(f"{len(keys)} keys; total {out['total_lo']}s -> {out['total_hi']}s "
          f"(x{out['total_ratio']}); median per-key ratio {med}")
    for r, k in worst[:8]:
        print(f"  worst: {k} x{r}")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
