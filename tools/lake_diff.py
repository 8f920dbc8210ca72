#!/usr/bin/env python3
"""Compare the rows of every table in two lakes.

Usage: python3 tools/lake_diff.py [--files] ROOT_A [ROOT_B]

A lake root holds one directory per table: `_graft_meta.json` declares the
table's columns, and `data/` holds its rows as hive-partitioned Parquet
(`graft.catalog.Lake`). For every table directory in either root, the
declared columns of `data/` are compared with DuckDB `EXCEPT ALL` in both
directions, so a duplicated row counts as a difference. The lake's
ingest-order columns (`_graft_ingest_seq`, `_graft_ingest_sub`) are not
declared, so they are not compared. Files and directories whose names
start with `_` or `.` are skipped, as Spark skips them; a table with no
part files reads as empty.

With `--files`, first print every table's part files in each root: the
total and the most in any one partition directory (`Lake.optimize`
bin-packs a partition past a fixed count, so the second number stays
bounded however many upserts the lake took). With `--files` the second root
is optional; without one, only the file counts are printed.

Exit status: 0 when every table has the same rows on both sides; 1 when
any table differs or exists on one side only.
"""
import json
import os
import sys

import duckdb


def tables(root):
    return {d for d in os.listdir(root)
            if os.path.isfile(os.path.join(root, d, "_graft_meta.json"))}


def columns(root, table):
    with open(os.path.join(root, table, "_graft_meta.json")) as f:
        return [c["name"] for c in json.load(f)["schema"]["fields"]]


def part_files(root, table):
    files = []
    for d, dirs, names in os.walk(os.path.join(root, table, "data")):
        dirs[:] = sorted(n for n in dirs if not n.startswith(("_", ".")))
        files += [os.path.join(d, n) for n in sorted(names)
                  if n.endswith(".parquet") and not n.startswith(("_", "."))]
    return files


def file_counts(root, table):
    """(part files, the most part files in one partition directory)."""
    per_dir = {}
    for f in part_files(root, table):
        per_dir[os.path.dirname(f)] = per_dir.get(os.path.dirname(f), 0) + 1
    return sum(per_dir.values()), max(per_dir.values(), default=0)


def print_files(roots):
    for root in roots:
        for t in sorted(tables(root)):
            total, most = file_counts(root, t)
            print(f"[FILES] {root} {t}: {total} part files, "
                  f"at most {most} in one partition")


def rows_sql(files, cols):
    """The declared columns of `files`, or None for a table with no part files."""
    if not files:
        return None
    listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return (f"SELECT {cols} FROM read_parquet([{listed}], "
            f"hive_partitioning = true, union_by_name = true)")


def count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def compare(con, a, b, table):
    """(rows in A, rows in B, rows only in A, rows only in B)."""
    cols = ", ".join('"' + n + '"' for n in columns(a, table))
    qa, qb = rows_sql(part_files(a, table), cols), rows_sql(part_files(b, table), cols)
    na = count(con, qa) if qa else 0
    nb = count(con, qb) if qb else 0
    if qa is None or qb is None:
        return na, nb, na, nb
    return (na, nb, count(con, f"{qa} EXCEPT ALL {qb}"),
            count(con, f"{qb} EXCEPT ALL {qa}"))


def main(argv):
    files = "--files" in argv[1:2]
    roots = argv[1 + files:]
    if len(roots) != 2 and not (files and len(roots) == 1):
        sys.exit(__doc__.strip().splitlines()[2])
    if files:
        print_files(roots)
        if len(roots) == 1:
            return 0
    a, b = roots
    ta, tb = tables(a), tables(b)
    con = duckdb.connect()
    differ = 0
    for t in sorted(ta | tb):
        if t not in ta or t not in tb:
            print(f"[ONLY-{'A' if t in ta else 'B'}] {t}")
            differ += 1
            continue
        if columns(a, t) != columns(b, t):
            print(f"[DIFF-COLUMNS] {t}: {columns(a, t)} vs {columns(b, t)}")
            differ += 1
            continue
        na, nb, only_a, only_b = compare(con, a, b, t)
        same = only_a == 0 and only_b == 0
        differ += not same
        print(f"[{'OK' if same else 'DIFF'}] {t}: rows {na} vs {nb}, "
              f"only in A {only_a}, only in B {only_b}")
    print(f"{len(ta | tb) - differ} of {len(ta | tb)} tables identical")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
