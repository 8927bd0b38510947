"""DuckDB oracle results for registry queries over a generated input dir.

Runs each query's oracle SQL (a ``{name: sql}`` JSON file written from
``registry.oracle_sqls()``) on DuckDB over the parquet tables in
``DATA_DIR`` and prints one JSON object
``{name: {"rows": n, "cols": [...], "hash": value_hash}}`` (or
``{"error": ...}``), hashed exactly as ``tools/oracle_check.py`` does.
It runs in its own process so DuckDB's memory stays out of the
benchmark process's RSS.

    python3 e2ebench/oracle.py DATA_DIR ORACLES_JSON
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    import duckdb

    from tools.oracle_check import value_hash

    data_dir = sys.argv[1]
    with open(sys.argv[2]) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    out = {}
    for name, sql in sqls.items():
        try:
            df = con.sql(sql).df()
            out[name] = {"rows": len(df), "cols": sorted(df.columns), "hash": value_hash(df)}
        except Exception as e:  # reported as a failed check, not a crash
            out[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
