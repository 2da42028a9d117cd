"""Checks gen.py's tables against reference tables, row for row.

For each table, prints the row count of both dirs, the rows found in only
one of them (as multisets, so row order does not matter), and whether the
Arrow schemas agree. Exits 1 when any table differs.

Usage: python3 perfbench/compare_input.py <reference_dir> <generated_dir>
"""
import sys

import duckdb
import pyarrow.parquet as pq

from gen import TABLES


def compare(ref_dir, gen_dir):
    """[(table, ref rows, gen rows, rows only in ref, rows only in gen, same schema)]."""
    con = duckdb.connect()
    out = []
    for t in TABLES:
        a, b = f"'{ref_dir}/{t}.parquet'", f"'{gen_dir}/{t}.parquet'"
        n = [con.execute(f"SELECT count(*) FROM {x}").fetchone()[0] for x in (a, b)]
        only = [con.execute(f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})")
                .fetchone()[0] for x, y in ((a, b), (b, a))]
        same = pq.read_schema(a.strip("'")).equals(pq.read_schema(b.strip("'")), check_metadata=False)
        out.append((t, *n, *only, same))
    return out


if __name__ == "__main__":
    rows = compare(sys.argv[1], sys.argv[2])
    print("| table | reference rows | generated rows | only in reference | only in generated | same schema |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print("| " + " | ".join(str(x) for x in r) + " |")
    sys.exit(0 if all(r[3] == r[4] == 0 and r[5] for r in rows) else 1)
