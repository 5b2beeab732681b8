#!/usr/bin/env python3
"""One-time cross-check of the analytics gate goldens against DuckDB.

    python3 perfbench/oracle_check.py <tablesDir> <dumpDir>

<dumpDir> is what `perfbench.Main goldens` wrote: one parquet directory of
rows per gate plus oracle_sql.json (SparkEntry.oracleSql for the gates that
have an oracle). Each gate's rows must equal its oracle's rows run in DuckDB
over the same frozen tables: same column names, row count and multiset of
values (columns in name order). Exits 1 on any mismatch.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ("lineitem", "orders", "supplier", "events", "documents", "embeddings")


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def rows_of(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())


def main():
    tables, dump = Path(sys.argv[1]), Path(sys.argv[2])
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables / (t + '.parquet')}/*.parquet'")
    bad = 0
    for name, sql in sorted(oracle.items()):
        s_cols, s_rows = rows_of(con.sql(f"SELECT * FROM '{dump / name}/*.parquet'"))
        d_cols, d_rows = rows_of(con.sql(sql))
        if s_cols != d_cols or s_rows != d_rows:
            bad += 1
            diff = next((i for i, (x, y) in enumerate(zip(s_rows, d_rows)) if x != y), None)
            print(f"FAIL {name}: columns {s_cols} vs {d_cols}, rows {len(s_rows)} vs {len(d_rows)},"
                  f" first differing sorted row {diff}")
        else:
            print(f"OK   {name}: {len(s_rows)} rows")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
