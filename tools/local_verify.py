#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (SURVEY.md §5): run
graft.Verify output against the DuckDB oracle on the same parquet tables,
sort columns by name, sort rows, and diff values.

Usage: python3 tools/local_verify.py <sfDir> <outDir> [query ...]
       python3 tools/local_verify.py --against <otherOutDir> <outDir> [query ...]

With --against, no oracle runs: each entry of <outDir> is compared with the
same entry of another graft.Verify dump (say, the parent commit's) as a
multiset of rows, EXCEPT ALL both ways in DuckDB. Rows that differ bitwise
still pass if the sorted rows agree within the float tolerance.
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def close(a, b):
    a, b = norm(a), norm(b)
    if isinstance(a, float) and isinstance(b, (int, float)):
        if a == b:
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if a is None and b is None:
        return True
    return str(a) == str(b)

def frames_match(mine, oref, other="oracle"):
    """Column-sorted, row-sorted, cell-by-cell comparison within `close`."""
    mcols, ocols = sorted(mine.columns), sorted(oref.columns)
    if mcols != ocols:
        return False, f"column mismatch spark={mcols} {other}={ocols}"
    m = mine[mcols].sort_values(mcols).reset_index(drop=True)
    o = oref[ocols].sort_values(ocols).reset_index(drop=True)
    if len(m) != len(o):
        return False, f"row count spark={len(m)} {other}={len(o)}"
    for i in range(len(m)):
        for c in mcols:
            if not close(m.at[i, c], o.at[i, c]):
                return False, (f"row {i} col {c}: spark={m.at[i, c]!r} "
                               f"{other}={o.at[i, c]!r}")
    return True, f"({len(m)} rows)"

def check_one(sf_dir, out_dir, name, sql):
    """Returns (ok, message). Fresh, CLOSED connection per query: a
    long-lived connection (or a leaked one) accumulates buffer-manager
    state across ~200 heavy queries (recursive CTEs, wide unions) and
    starts throwing Out of Memory on later queries even with free RAM —
    observed at sf0.1 on the graph oracles."""
    con = duckdb.connect()
    try:
        # at 32 threads DuckDB's per-thread reservations on the heaviest
        # oracles (list-comprehension shingle chains, d36) abort with
        # bad_alloc at sf0.1 despite free RAM; 8 threads is reliable
        con.execute("SET threads=8")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        try:
            mine = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        except Exception as e:
            return False, f"spark output unreadable: {e}"
        try:
            oref = con.execute(sql).fetchdf()
        except Exception as e:
            return False, f"oracle sql error: {e}"
    finally:
        con.close()
    return frames_match(mine, oref)

def compare_dumps(other_dir, out_dir, name):
    """Returns (ok, message): `name` in two Verify dumps as row multisets."""
    con = duckdb.connect()
    try:
        con.execute("SET threads=8")
        rels = {}
        for side, d in (("spark", out_dir), ("other", other_dir)):
            try:
                con.execute(f"CREATE VIEW {side} AS SELECT * FROM '{d}/{name}/*.parquet'")
                rels[side] = sorted(c[0] for c in con.execute(f"DESCRIBE {side}").fetchall())
            except Exception as e:
                return False, f"{side} dump unreadable: {e}"
        if rels["spark"] != rels["other"]:
            return False, f"column mismatch spark={rels['spark']} other={rels['other']}"
        sel = ", ".join(f'"{c}"' for c in rels["spark"])
        def count(sql):
            return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        n_mine, n_other = count("SELECT * FROM spark"), count("SELECT * FROM other")
        only_mine = count(f"SELECT {sel} FROM spark EXCEPT ALL SELECT {sel} FROM other")
        only_other = count(f"SELECT {sel} FROM other EXCEPT ALL SELECT {sel} FROM spark")
        counts = f"({n_mine} rows; other {n_other}; except all {only_mine}/{only_other})"
        if only_mine == 0 and only_other == 0:
            return True, counts
        ok, msg = frames_match(con.execute("SELECT * FROM spark").fetchdf(),
                               con.execute("SELECT * FROM other").fetchdf(), "other")
        return ok, f"{counts} within float tolerance" if ok else f"{counts}: {msg}"
    finally:
        con.close()

def main():
    if sys.argv[1] == "--against":
        other_dir, out_dir = sys.argv[2], sys.argv[3]
        only = set(sys.argv[4:])
        # every entry either dump holds; one missing on a side fails below
        names = sorted({e.name for d in (out_dir, other_dir) for e in os.scandir(d)
                        if e.is_dir()})
        checks = [(n, lambda n=n: compare_dumps(other_dir, out_dir, n)) for n in names]
    else:
        sf_dir, out_dir = sys.argv[1], sys.argv[2]
        only = set(sys.argv[3:])
        oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
        checks = [(n, lambda n=n, sql=sql: check_one(sf_dir, out_dir, n, sql))
                  for n, sql in sorted(oracle.items())]
    n_pass = n_fail = 0
    for name, check in checks:
        if only and name not in only:
            continue
        ok, msg = check()
        if ok:
            print(f"PASS {name} {msg}")
            n_pass += 1
        else:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
