#!/usr/bin/env python3
"""Row-level digests of a graft.Verify dump.

A Verify dump holds one directory of parquet part files per query. The
part files are not byte-reproducible (the parquet footer may list column
encodings in a different order from run to run), so comparing dumps by
file hash reports false differences. This prints, for each query, one
sha256 over its column names and types and its rows in stored order, as
DuckDB reads them. Given a second dump, it lists the queries whose
digests differ and exits non-zero if there are any.

Usage:
    python3 tools/row_hashes.py OUTDIR             # one digest per query
    python3 tools/row_hashes.py OUTDIR OTHERDIR    # queries that differ
"""
import hashlib
import sys
from pathlib import Path

import duckdb


def digests(outdir):
    con = duckdb.connect()
    # one thread keeps DuckDB's read order the stored order
    con.execute("SET threads = 1")
    out = {}
    for q in sorted(p for p in Path(outdir).iterdir() if p.is_dir()):
        parts = sorted(q.glob("part-*.parquet"))
        h = hashlib.sha256()
        if parts:
            files = ", ".join(f"'{p}'" for p in parts)
            rel = con.execute(f"SELECT * FROM read_parquet([{files}])")
            h.update(repr([(d[0], str(d[1])) for d in rel.description]).encode())
            while True:
                rows = rel.fetchmany(4096)
                if not rows:
                    break
                for row in rows:
                    h.update(repr(row).encode())
                    h.update(b"\n")
        out[q.name] = h.hexdigest()
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    a = digests(argv[1])
    if len(argv) == 2:
        for name, d in a.items():
            print(f"{d}  {name}")
        return 0
    b = digests(argv[2])
    differ = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for n in differ:
        print(n)
    same = len(a.keys() & b.keys()) - len([n for n in differ if n in a and n in b])
    print(f"{same} queries identical, {len(differ)} differ", file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
