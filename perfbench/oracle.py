"""Evaluate DuckDB oracle queries over a generated `documents` table.

usage: python3 oracle.py <queries.json> <documents.parquet dir> <out dir> <threads>

`queries.json` maps a result name to DuckDB SQL over a table named
`documents`. Each result is written to `<out dir>/<name>.parquet`. The
benchmark JVM calls this once per seed during set-up and compares every
timed run's output with these files.
"""
import json
import os
import sys

import duckdb


def main() -> int:
    queries_path, docs_dir, out_dir, threads = sys.argv[1:5]
    with open(queries_path, encoding="utf-8") as f:
        queries = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, 'duckdb_tmp')}'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(docs_dir, '*.parquet')}')")
    for name, sql in queries.items():
        con.execute(f"COPY ({sql}) TO '{os.path.join(out_dir, name + '.parquet')}' "
                    "(FORMAT PARQUET)")
    con.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
