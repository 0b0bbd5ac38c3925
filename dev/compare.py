#!/usr/bin/env python3
"""Local twin of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables and hash-compare against the Verify
parquet dumps. Usage: compare.py <sfDir> <verifyOut>

Every registered query must have a dump: Verify writes none for a query
that threw, so a missing dump is a FAIL. With SPARK_GRAFT_ONLY=a,b (the
knob that filtered the Verify run) only the named queries are expected."""
import os, sys, json, glob, hashlib
import duckdb, pyarrow.parquet as pq

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
only = os.environ.get("SPARK_GRAFT_ONLY")
expected = {n.strip() for n in only.split(",")} if only else set(oracle)
fail = []
ran = 0
for name, sql in sorted(oracle.items()):
    if name not in expected:
        continue
    ran += 1
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        fail.append((name, "no dump: the query threw in Verify"))
        continue
    spark_tbl = pq.read_table(files[0])
    # The DRIVER gate sorts columns through pandas, which cannot
    # factorize list/struct cells (unhashable numpy.ndarray) — round 7
    # shipped docs_inverted_index red because this local gate's
    # repr-canonicalization was laxer. Reject nested output up front so
    # local and driver gates agree: queries must serialize lists to
    # canonical strings (array_join / array_to_string).
    import pyarrow as pa
    nested = [f.name for f in spark_tbl.schema
              if pa.types.is_nested(f.type)]
    if nested:
        fail.append((name, f"array/struct output columns {nested} — "
                     "driver gate cannot sort these; array_join them"))
        continue
    try:
        duck_tbl = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        fail.append((name, f"duckdb error: {e}")); continue
    import datetime
    def norm(v):
        # Spark dumps instants (tz=UTC); DuckDB reads naive NTZ.
        # The session tz is pinned UTC so the wall values are equal —
        # normalize to naive before compare (driver does likewise).
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.isoformat()  # pd.Timestamp vs datetime repr parity
        return v
    def canon(tbl):
        cols = sorted(tbl.column_names)
        rows = []
        d = {c: tbl.column(c).to_pylist() for c in cols}
        n = tbl.num_rows
        for i in range(n):
            rows.append(tuple(repr(norm(d[c][i])) for c in cols))
        rows.sort()
        h = hashlib.sha256()
        for r in rows: h.update("|".join(r).encode())
        return cols, n, h.hexdigest()
    sc, sn, sh = canon(spark_tbl)
    dc, dn, dh = canon(duck_tbl)
    if sc != dc: fail.append((name, f"schema {sc} vs {dc}"))
    elif sn != dn: fail.append((name, f"rows {sn} vs {dn}"))
    elif sh != dh: fail.append((name, "hash mismatch"))
print(f"{ran-len(fail)}/{ran} match ({len(oracle)} registered)")
for n, why in fail: print("FAIL", n, why[:300])
sys.exit(1 if fail else 0)
