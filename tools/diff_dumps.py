#!/usr/bin/env python3
"""Row equivalence of two graft.Verify dumps.

    python3 tools/diff_dumps.py <dumpA> <dumpB> [query ...]

For each query (default: every query in dumpA's manifest.json) it checks
that both manifests record the same row count and that no query failed
(count -1), then runs DuckDB `EXCEPT ALL` both ways over the two parquet
results, with columns matched by name. Prints one line per query and exits
non-zero on any difference or on a name neither manifest knows. Use it to
compare a change's dump with its parent's, including the queries whose
DuckDB twins are too large to run (tools/check.py needs the twins).
"""
import json
import sys

import duckdb


def manifest(dump):
    with open(f"{dump}/manifest.json") as f:
        return json.load(f)


def columns(con, path):
    return [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]


def compare(con, a, b, name, na, nb):
    """None if the two results hold the same rows, else the difference."""
    if na is None or nb is None:
        return "missing from the " + ("first" if na is None else "second") + " dump"
    if na < 0 or nb < 0:
        return f"query failed in a dump (counts {na}, {nb})"
    if na != nb:
        return f"row counts differ: {na} vs {nb}"
    if na == 0:
        return None
    pa, pb = f"{a}/{name}/*.parquet", f"{b}/{name}/*.parquet"
    ca, cb = columns(con, pa), columns(con, pb)
    if sorted(ca) != sorted(cb):
        return f"columns differ: {sorted(ca)} vs {sorted(cb)}"
    cols = ", ".join('"' + c.replace('"', '""') + '"' for c in sorted(ca))
    only_a, only_b = (con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{x}') "
        f"EXCEPT ALL SELECT {cols} FROM read_parquet('{y}'))").fetchone()[0]
        for x, y in ((pa, pb), (pb, pa)))
    if only_a or only_b:
        return f"{only_a} rows only in the first, {only_b} only in the second"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    ma, mb = manifest(a), manifest(b)
    names = sys.argv[3:] or sorted(ma.keys() | mb.keys())
    unknown = sorted(set(names) - ma.keys() - mb.keys())
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    con = duckdb.connect()
    bad = 0
    for name in names:
        diff = compare(con, a, b, name, ma.get(name), mb.get(name))
        if diff:
            bad += 1
            print(f"DIFF  {name}: {diff}")
        else:
            print(f"EQUAL {name} ({ma[name]} rows)")
    print(f"\n{len(names) - bad} of {len(names)} equal")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
