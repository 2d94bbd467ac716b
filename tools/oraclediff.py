#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/oraclediff.py <vout_a> <vout_b>

A Verify dump is one parquet directory per registered query plus
oracle_sql.json. This compares:
  - the query key set (the parquet directories);
  - the oracle key set and each oracle SQL string, byte for byte;
  - per query, the row count and an order-insensitive digest of the
    dumped rows (read through DuckDB, as tools/localverify.py reads them;
    the digest hashes the sorted list of each row's exact Python repr).

Prints every differing name and exits 1 on any difference, 0 otherwise.
"""
import hashlib, json, os, sys
import duckdb


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def digest(con, out_dir, name):
    rows = con.sql(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall()
    h = hashlib.sha256()
    for r in sorted(repr(row) for row in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def main(a, b):
    diffs = []
    qa, qb = queries(a), queries(b)
    for n in sorted(qa - qb):
        diffs.append(f"query only in {a}: {n}")
    for n in sorted(qb - qa):
        diffs.append(f"query only in {b}: {n}")
    oa = json.load(open(f"{a}/oracle_sql.json"))
    ob = json.load(open(f"{b}/oracle_sql.json"))
    for n in sorted(oa.keys() - ob.keys()):
        diffs.append(f"oracle only in {a}: {n}")
    for n in sorted(ob.keys() - oa.keys()):
        diffs.append(f"oracle only in {b}: {n}")
    n_sql = 0
    for n in sorted(oa.keys() & ob.keys()):
        if oa[n] != ob[n]:
            diffs.append(f"oracle SQL differs: {n}")
        else:
            n_sql += 1
    con = duckdb.connect()
    n_rows = 0
    for n in sorted(qa & qb):
        try:
            da, db = digest(con, a, n), digest(con, b, n)
        except Exception as e:
            diffs.append(f"unreadable dump: {n}: {e}")
            continue
        if da != db:
            diffs.append(f"rows differ: {n}: rows/digest {da} vs {db}")
        else:
            n_rows += 1
    for d in diffs:
        print(d)
    print(f"== queries {len(qa)} vs {len(qb)}, oracles {len(oa)} vs "
          f"{len(ob)}; {n_sql} oracle SQL identical, {n_rows} dumps "
          f"identical, {len(diffs)} differences ==")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
