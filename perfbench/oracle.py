#!/usr/bin/env python3
"""Expected rows of the c1_curate_pipeline oracle over a generated corpus.

Usage: oracle.py <documents.parquet> <sql file> <out tsv>

Runs the oracle SQL in DuckDB with a `documents` view over the corpus
(as tools/check_oracle.py does) and writes one line per row,
doc_id<TAB>stage<TAB>reason<TAB>split.
"""
import sys
from pathlib import Path

import duckdb


def main():
    src, sql_file, out = Path(sys.argv[1]), Path(sys.argv[2]), Path(sys.argv[3])
    parquet = f"{src}/*.parquet" if src.is_dir() else str(src)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{out.parent}/duckdb-tmp'")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{parquet}')")
    rel = con.sql(sql_file.read_text())
    idx = [rel.columns.index(c) for c in ("doc_id", "stage", "reason", "split")]
    with out.open("w") as f:
        for row in rel.fetchall():
            f.write("\t".join(str(row[i]) for i in idx) + "\n")


if __name__ == "__main__":
    main()
