#!/usr/bin/env python3
"""DuckDB reference answers, computed in a process of their own.

    python3 perfbench/oracle.py <sf_dir> < sqls.json > answers.pickle

Reads a JSON list of SQL statements on stdin, runs each against the parquet
tables in ``sf_dir`` and writes a pickled list with one entry per statement:
its result as a pandas frame, or the error text if it failed. ``harness.Oracle``
starts it; running the reference engine apart keeps its memory and threads out
of the figures the benchmark reads from its own process tree.
"""

from __future__ import annotations

import json
import os
import pickle
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main() -> int:
    sf_dir = sys.argv[1]
    sqls = json.load(sys.stdin)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}/duckdb'")
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, name + '.parquet')}')")
        answers = []
        for sql in sqls:
            try:
                answers.append(con.execute(sql).fetchdf())
            except duckdb.Error as exc:
                answers.append(f"{type(exc).__name__}: {exc}")
    finally:
        con.close()
    pickle.dump(answers, sys.stdout.buffer)
    return 0


if __name__ == "__main__":
    sys.exit(main())
