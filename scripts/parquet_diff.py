#!/usr/bin/env python3
"""Compare two Verify dumps query by query, in DuckDB.

Usage:
    python3 scripts/parquet_diff.py OLD_DIR NEW_DIR [QUERY ...]

OLD_DIR and NEW_DIR are `graft.Verify` output directories (one parquet
directory per query). With no query names, every query directory in either
dump is compared. Per query it prints the row counts, EXCEPT ALL in both
directions (multiset difference, NULLs equal), whether the rows are equal
in order, whether the schemas (names and types) are equal, and a verdict:
IDENTICAL only when all four agree. The last line is ALL IDENTICAL or the
number of queries that differ; the exit status is 0 only when all are
identical.
"""
import os
import sys

import duckdb


def relation(con, name, path):
    """View `name` over the dump at `path`, with `pos` = the row's place in
    file order (Verify writes one part file per query)."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW {name} AS
        SELECT * EXCLUDE (filename, file_row_number),
               row_number() OVER (ORDER BY filename, file_row_number) AS pos
        FROM read_parquet('{path}/*.parquet', filename = true, file_row_number = true)""")
    return con.execute(f"DESCRIBE SELECT * EXCLUDE (pos) FROM {name}").fetchall()


def count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def compare(con, old_dir, new_dir, query):
    old_path, new_path = os.path.join(old_dir, query), os.path.join(new_dir, query)
    missing = [p for p in (old_path, new_path) if not os.path.isdir(p)]
    if missing:
        return f"MISSING {', '.join(missing)}  DIFFERENT", False
    old_schema = [(c[0], c[1]) for c in relation(con, "old", old_path)]
    new_schema = [(c[0], c[1]) for c in relation(con, "new", new_path)]
    n_old, n_new = count(con, "SELECT * FROM old"), count(con, "SELECT * FROM new")
    schema_equal = old_schema == new_schema
    if schema_equal:
        rows = "SELECT * EXCLUDE (pos) FROM {}"
        old_new = count(con, f"{rows.format('old')} EXCEPT ALL {rows.format('new')}")
        new_old = count(con, f"{rows.format('new')} EXCEPT ALL {rows.format('old')}")
        # with the position as a column, set equality is equality in order
        ordered = (n_old == n_new
                   and count(con, "SELECT * FROM old EXCEPT ALL SELECT * FROM new") == 0)
    else:
        old_new = new_old = "-"
        ordered = False
    same = schema_equal and n_old == n_new and old_new == 0 and new_old == 0 and ordered
    line = (f"rows {n_old:>5} / {n_new:>5}  old-new {old_new}  new-old {new_old}  "
            f"ordered-equal {ordered}  schema-equal {schema_equal}  "
            f"{'IDENTICAL' if same else 'DIFFERENT'}")
    return line, same


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    old_dir, new_dir, queries = argv[1], argv[2], argv[3:]
    if not queries:
        queries = sorted({d for top in (old_dir, new_dir) if os.path.isdir(top)
                          for d in os.listdir(top) if os.path.isdir(os.path.join(top, d))})
    con = duckdb.connect()
    width = max(len(q) for q in queries) if queries else 0
    differ = 0
    for q in queries:
        line, same = compare(con, old_dir, new_dir, q)
        differ += not same
        print(f"  {q:<{width}}  {line}")
    print("ALL IDENTICAL" if differ == 0 else f"{differ} OF {len(queries)} DIFFERENT")
    return 0 if differ == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
