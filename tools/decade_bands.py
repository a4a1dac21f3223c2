#!/usr/bin/env python3
"""Decade-band enforcement (VERDICT r13 #6): recompute per-key
sf0.1 -> sf1 wall-clock ratios from two committed BENCH_FULL-style
artifacts and hard-fail any key that leaves its family band without a
reviewed exemption.

Usage:
  python3 tools/decade_bands.py <bench_sf0.1.json> <bench_sf1.json> \
      <out.json> [plansweep.json]

Either input may be a full BENCH_FULL.json or the file a subset run
writes (`runMain graft.Bench <out.json> <key1,key2,...>`); a subset
file feeds in directly, only its "queries" map is read.

If a PLANSWEEP json is given, the band table is merged into it as a
"decade_bands" column (the same artifact the judge reads), preserving
every existing field.

Band semantics: the ratio is min-of-rounds(sf1) / min-of-rounds(sf0.1)
for 10x the data. Bands are generous on purpose — the host has
co-tenant noise and these are 1-3s queries — the gate exists to catch
the SUPERLINEAR class (a quadratic pair blowup reads as 10-100x, never
2x), not to litigate 20%% drifts. Family bands come from three rounds
of committed SCALING.md history (window/map-only keys ~flat at 1.0-1.8,
inverted-index dedup 1.8-2.7, kernels 1.2-2.2).
"""
import sys, json, re

FLAT_HI, INDEX_HI, LO = 3.0, 4.0, 0.25

# family -> (lo, hi) decade band; key prefix match, longest wins
BANDS = {
    "q":  (LO, FLAT_HI),   # relational: scan/agg/join, AQE-planned
    "h":  (LO, FLAT_HI),   # TPC-H
    "d":  (LO, FLAT_HI),   # document model (docstore scans)
    "dd": (LO, INDEX_HI),  # dedup: inverted-index 1.8-2.7 band (SCALING)
    "s":  (LO, FLAT_HI),   # similarity: bounded query set, corpus scans
    "t":  (LO, INDEX_HI),  # text kernels: postings/grams up to ~2.5
    "m":  (LO, INDEX_HI),  # multimodal: DCT/caption chains
    "p":  (LO, INDEX_HI),  # pipeline composites
    "st": (LO, FLAT_HI),   # streaming twins: per-entity windows, ~flat
}

# Reviewed out-of-band exemptions: key -> reason. An exemption is a
# REVIEW artifact — every entry must name the superlinearity's bound.
EXEMPT = {
    # dd15 chunks: pseudo-doc count ~ words/10, so the signature chain
    # input grows ~word-linearly, and the capped band buckets add their
    # documented 1.8-2.7x; committed SCALING band for the chunk family.
    "dd15_para_minhash": "chunk-level chain: input ~ words/10, capped "
        "buckets; SCALING r12 band 1.8-2.7x holds, cap bounds the tail",
    # t23 is driver-round-bound (<= 20 rounds at ANY corpus), so its
    # decade ratio is flat-to-noisy, never data-shaped.
    "t23_bpe_train": "driver-round-bound (<= T23OracleRounds), decade "
        "ratio is scheduling noise around flat",
    # t02 is a pure per-row map kernel whose interpreted higher-order
    # folds (markerHits/aggregate) cost ~2.5 ms/doc-core at sf1 --
    # LINEAR and FALLING per row across the decade (4.3 -> 2.5
    # ms/doc-core, measured r14); the wall ratio crosses the flat band
    # only because sf0.1 is overhead-dominated -- the regime-transition
    # case, not a superlinear term.
    "t02_quality_score": "per-row core-time falls across the decade "
        "(4.3 -> 2.5 ms/doc-core, r14); wall ratio is the overhead->"
        "compute regime transition of a linear map kernel",
}


def fam(key):
    m = re.match(r"([a-z]+)", key)
    p = m.group(1) if m else key
    return BANDS.get(p[:2]) or BANDS.get(p[:1]) or (LO, INDEX_HI)


def main():
    a, b, out = sys.argv[1], sys.argv[2], sys.argv[3]
    sweep_path = sys.argv[4] if len(sys.argv) > 4 else None
    ja, jb = json.load(open(a)), json.load(open(b))
    qa, qb = ja["queries"], jb["queries"]
    rows, offenders = {}, []
    # union, not intersection: a key that crashed/timed out of one run
    # and was omitted from its JSON is exactly the class the gate must
    # catch — record it as a "missing" offender, never skip it (ADVICE
    # r14)
    for k in sorted(set(qa) | set(qb)):
        ta, tb = qa.get(k), qb.get(k)
        if ta is None or tb is None or ta <= 0 or tb <= 0:
            rows[k] = {"ratio": None, "band": list(fam(k)),
                       "status": "missing"}
            offenders.append(f"{k}:missing")
            continue
        r = tb / ta
        lo, hi = fam(k)
        ent = {"sf01": round(ta, 3), "sf1": round(tb, 3),
               "ratio": round(r, 2), "band": [lo, hi]}
        if lo <= r <= hi:
            ent["status"] = "in_band"
        elif k in EXEMPT:
            ent["status"] = "exempt"
            ent["reason"] = EXEMPT[k]
        else:
            ent["status"] = "OUT_OF_BAND"
            offenders.append(f"{k}:{r:.2f} not in [{lo},{hi}]")
        rows[k] = ent
    result = {
        "n_keys": len(rows),
        "in_band": sum(1 for e in rows.values()
                       if e["status"] == "in_band"),
        "exempt": sorted(k for k, e in rows.items()
                         if e["status"] == "exempt"),
        "out_of_band": sorted(k for k, e in rows.items()
                              if e["status"] == "OUT_OF_BAND"),
        "sf_pair": [ja.get("sf"), jb.get("sf")],
        "keys": rows,
    }
    json.dump(result, open(out, "w"), indent=1)
    if sweep_path:
        sweep = json.load(open(sweep_path))
        sweep["decade_bands"] = {
            "in_band": result["in_band"], "n_keys": result["n_keys"],
            "exempt": result["exempt"],
            "out_of_band": result["out_of_band"],
            "detail": out,
        }
        json.dump(sweep, open(sweep_path, "w"), indent=1)
    print(f"{result['in_band']}/{result['n_keys']} in band, "
          f"{len(result['exempt'])} exempt -> {out}")
    if offenders:
        print("OUT OF BAND:")
        for o in offenders:
            print(" ", o)
        sys.exit(1)


if __name__ == "__main__":
    main()
