#!/usr/bin/env python3
"""Dev-only oracle-parity harness (mimics the driver's correctness gate).

Not part of the engine: the Scala library never depends on this. Usage:
    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, sys, glob
import duckdb

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fails += 1; continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); fails += 1; continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            print(f"FAIL {name}: cols {gc} != {wc}"); fails += 1; continue
        g = got[gc].sort_values(gc).reset_index(drop=True)
        w = want[wc].sort_values(wc).reset_index(drop=True)
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}"); fails += 1; continue
        # stringify compare (approximates the driver's value hashing)
        mism = None
        for c in gc:
            a, b = g[c].astype(str), w[c].astype(str)
            bad = (a != b)
            if bad.any():
                i = bad.idxmax()
                mism = (c, i, a[i], b[i])
                break
        if mism:
            c, i, av, bv = mism
            print(f"FAIL {name}: col {c} row {i}: spark={av!r} duckdb={bv!r}")
            fails += 1
        else:
            print(f"OK   {name} ({len(g)} rows)")
    # rows-only entries (no oracle)
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracle:
            continue
        files = glob.glob(f"{d}/*.parquet")
        n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        print(f"{'OK  ' if n > 0 else 'WARN'} {name} rows-only ({n} rows)")
    # every name Verify ran must have output: a query that throws writes
    # nothing, and a rows-only one would otherwise just be absent
    # (oracled names without output already failed above)
    listed = json.load(open(f"{out_dir}/queries.json"))
    missing = [n for n in listed if not glob.glob(f"{out_dir}/{n}/*.parquet")]
    for name in missing:
        if name not in oracle:
            print(f"FAIL {name}: no spark output (rows-only)")
            fails += 1
    print(f"\n{len(listed) - len(missing)} / {len(listed)} listed queries have output")
    print(f"{fails} failures / {len(oracle)} oracled queries")
    return 1 if fails else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
