#!/usr/bin/env python3
"""Merge single-rung ScaleBench artifacts (one fresh JVM per rung —
dev/scale_ladder.sh) into one SCALE_BENCH-shaped artifact with
cross-rung ratios. A rung file that is missing or unparsable becomes
null cells for its sf, never a lost artifact (the round-7 failure
mode this pipeline exists to prevent).

Usage: merge_ladder.py <out.json> <rung1.json> [<rung2.json> ...]
"""
import re, sys, json

out_path, rung_paths = sys.argv[1], sys.argv[2:]
rungs = []
for p in rung_paths:
    try:
        rungs.append(json.load(open(p)))
    except Exception as e:
        print(f"WARN rung {p} unreadable ({e}) — null cells", file=sys.stderr)
        rungs.append(None)

sfs = []
for p, r in zip(rung_paths, rungs):
    if r is not None:
        assert len(r["sfs"]) == 1, f"{p} is not a single-rung artifact"
        sfs.append(r["sfs"][0])
    else:
        # recover the sf from the file name SCALE_RUNG_sf<sf>.json; a
        # name not shaped that way must not crash the merge (the
        # module contract: a bad rung becomes null cells, never a
        # lost artifact)
        m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)\.json$", p)
        sfs.append(float(m.group(1)) if m else None)

names = []
for r in rungs:
    if r:
        for q in r["queries"]:
            if q not in names:
                names.append(q)

ARRAY_KEYS = ["sec", "rows", "shuffle_write_mb", "shuffle_read_mb",
              "mem_spill_mb", "disk_spill_mb", "input_read_mb", "lsh_stats",
              "planted_recall", "upsert_io", "gram_hash_stats",
              "scratch_free_gb"]
queries = {}
for name in names:
    cells = [(r or {}).get("queries", {}).get(name) for r in rungs]
    merged = {}
    for key in ARRAY_KEYS:
        if any(c and key in c for c in cells):
            merged[key] = [(c[key][0] if c and key in c else None)
                           for c in cells]
    errors = {}
    for sf, c in zip(sfs, cells):
        for k, v in (c or {}).get("errors", {}).items():
            errors[k] = v
    if errors:
        merged["errors"] = errors
    ok = [(sf, s) for sf, s in zip(sfs, merged.get("sec", []))
          if s is not None and sf is not None]
    if len(ok) >= 2 and ok[0][1]:
        merged["ratio"] = round(ok[-1][1] / ok[0][1], 3)
        merged["ratio_sf_span"] = round(ok[-1][0] / ok[0][0], 3)
    queries[name] = merged

first = next((r for r in rungs if r), None)
if first is None:
    # all rungs missing: still write an artifact (the module contract:
    # a bad rung becomes null cells, never a lost artifact) and fail
    with open(out_path, "w") as f:
        json.dump({"metric": "scale_curve_reforced",
                   "note": "ALL rungs missing/unparsable: " +
                           ", ".join(rung_paths),
                   "sfs": sfs, "queries": {}}, f)
    print(f"merged 0/{len(rungs)} rungs -> {out_path}", file=sys.stderr)
    sys.exit(1)
merged = {
    "metric": "scale_curve_reforced",
    "note": ("per-rung JVM isolation (dev/scale_ladder.sh): each rung "
             "ran in its own sbt-forked JVM with private scratch dirs; "
             "rung notes: " + "; ".join(
                 f"sf{sf}={(r or {}).get('note', 'MISSING RUNG')}"
                 for sf, r in zip(sfs, rungs) if r is None or r.get("note"))),
    "sfs": sfs,
    "gen_version": first.get("gen_version"),
    # sfs may contain None for a missing rung whose filename didn't
    # carry the sf — ratio over the recoverable ones only (never crash)
    "corpus_ratio": (round(max(known_sfs) / min(known_sfs), 3)
                     if len(known_sfs := [s for s in sfs if s is not None]) >= 2
                     else None),
    "reps": first.get("reps"),
    "cpus": first.get("cpus"),
    # round 11: per-rung shuffle sizing — each single-rung artifact
    # carries one-element arrays (older rungs: a scalar; normalized)
    "initial_partitions": [
        (lambda v: v[0] if isinstance(v, list) and v else v)(
            (r or {}).get("initial_partitions")) for r in rungs],
    "advisory_mb": [
        (lambda v: v[0] if isinstance(v, list) and v else v)(
            (r or {}).get("advisory_mb")) for r in rungs],
    "scratch": {k: v for r in rungs if r
                for k, v in (r.get("scratch") or {}).items()},
    "heap": first.get("heap"),
    "forcing": "count(*) + bit_xor(xxhash64(all output columns))",
    "gen_sec": [(r or {}).get("gen_sec", [None])[0] for r in rungs],
    "codebook_residency": sum(
        ((r or {}).get("codebook_residency", []) for r in rungs), []),
    "builds": {k: v for r in rungs if r
               for k, v in r.get("builds", {}).items()},
    "queries": queries,
}

with open(out_path, "w") as f:
    json.dump(merged, f)
print(f"merged {sum(1 for r in rungs if r)}/{len(rungs)} rungs -> {out_path}")
