#!/usr/bin/env python3
"""Dev-only output-parity check between two `graft.Verify` output dirs.

Not part of the engine: the Scala library never depends on this. Run
Verify on two commits (each in its own checkout, one sbt at a time) on
the same corpus, then:
    python3 tools/compare_verify.py PARENT_OUT CHANGE_OUT

It checks that
  - `queries.json` is byte-identical,
  - `oracle_sql.json` has the same keys with byte-identical SQL,
  - every entry's parquet output holds the same columns, in order, and
    the same rows (DuckDB, sorted stringified rows, the way
    check_oracle.py compares).
Prints one line per difference and exits 1 if there is any, else 0.
"""
import glob, json, os, sys
import duckdb


def rows(con, out_dir: str, name: str):
    """(columns, sorted stringified rows) of one entry, or None."""
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
    cols = [d[0] for d in cur.description]
    return cols, sorted(tuple(str(v) for v in r) for r in cur.fetchall())


def main(a_dir: str, b_dir: str) -> int:
    diffs = []
    qa, qb = (open(f"{d}/queries.json", "rb").read() for d in (a_dir, b_dir))
    if qa != qb:
        diffs.append("queries.json differs")
    oa, ob = (json.load(open(f"{d}/oracle_sql.json")) for d in (a_dir, b_dir))
    for k in sorted(set(oa) ^ set(ob)):
        diffs.append(f"oracle_sql.json: {k} only in "
                     f"{a_dir if k in oa else b_dir}")
    sql_diff = [k for k in sorted(set(oa) & set(ob)) if oa[k] != ob[k]]
    diffs += [f"oracle_sql.json: {k} SQL differs" for k in sql_diff]

    names = sorted({os.path.basename(p.rstrip("/"))
                    for d in (a_dir, b_dir) for p in glob.glob(f"{d}/*/")}
                   | set(json.loads(qa)) | set(json.loads(qb)))
    con = duckdb.connect()
    same = 0
    for name in names:
        ra, rb = rows(con, a_dir, name), rows(con, b_dir, name)
        if ra is None and rb is None:
            print(f"WARN {name}: no output on either side")
        elif ra is None or rb is None:
            diffs.append(f"{name}: output only in "
                         f"{b_dir if ra is None else a_dir}")
        elif ra[0] != rb[0]:
            diffs.append(f"{name}: columns {ra[0]} != {rb[0]}")
        elif ra[1] != rb[1]:
            n = sum(1 for x, y in zip(ra[1], rb[1]) if x != y)
            diffs.append(f"{name}: rows differ ({len(ra[1])} vs "
                         f"{len(rb[1])} rows, {n} positions differ)")
        else:
            same += 1

    for d in diffs:
        print(f"DIFF {d}")
    print(f"\nqueries.json: {len(json.loads(qa))} vs {len(json.loads(qb))} names"
          f"{'' if qa == qb else ' (differs)'}")
    print(f"oracle_sql.json: {len(oa)} vs {len(ob)} keys, "
          f"{len(sql_diff)} with differing SQL")
    print(f"{same} / {len(names)} entries row-identical")
    print(f"{len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: compare_verify.py PARENT_OUT CHANGE_OUT")
    sys.exit(main(sys.argv[1], sys.argv[2]))
