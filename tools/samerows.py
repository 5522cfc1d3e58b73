#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs query by query.

    python3 tools/samerows.py <outA> <outB>

Each query's result is reduced to the sha256 of its sorted rows (types
included), so every query is covered, with or without a DuckDB oracle.
Prints each query whose hash differs or that only one side produced, and
exits 1 on any difference.
"""
import hashlib
import json
import os
import sys

import duckdb


def row_hashes(out):
    names = json.load(open(os.path.join(out, "queries.json")))
    con = duckdb.connect()
    hashes = {}
    for name in names:
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            hashes[name] = None
            continue
        rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        schema = [(d[0], str(d[1])) for d in rel.description]
        rows = sorted(repr(r) for r in rel.fetchall())
        hashes[name] = hashlib.sha256(repr((schema, rows)).encode()).hexdigest()
    return hashes


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (row_hashes(d) for d in sys.argv[1:])
    diff = 0
    for name in sorted(set(a) | set(b)):
        ha, hb = a.get(name, "absent"), b.get(name, "absent")
        if ha != hb or ha is None:
            diff += 1
            print(f"DIFF {name}: {ha or 'no result'} vs {hb or 'no result'}")
    print(f"{len(set(a) | set(b)) - diff} same, {diff} different")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
