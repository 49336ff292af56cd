#!/usr/bin/env python3
"""Regenerate perfbench/oracle_counts.tsv: the DuckDB-oracle row count of every
SparkEntry query over the benchmark's fixture tables (perfbench/data).

The oracle SQL texts come from `SparkEntry.oracleSql`, which the engine's
`graft.Verify` main writes as oracle_sql.json into its output directory:

    java ... graft.Verify perfbench/data <out>
    python3 perfbench/oracle_counts.py <out>/oracle_sql.json

Needs the duckdb Python package. The counts depend only on the fixture
tables, so they change only when perfbench/data or an oracle query changes.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(HERE, 'data', t)}.parquet'")
    lines = ["# query\trows  (DuckDB oracle over perfbench/data; see oracle_counts.py)"]
    for name in sorted(oracle):
        n = con.execute(f"SELECT count(*) FROM ({oracle[name]}) q").fetchone()[0]
        lines.append(f"{name}\t{n}")
    with open(os.path.join(HERE, "oracle_counts.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
