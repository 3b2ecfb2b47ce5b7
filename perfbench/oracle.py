#!/usr/bin/env python3
"""Replay oracle SQL in DuckDB over one run's generated inputs.

    python3 perfbench/oracle.py DATA_DIR OUT_DIR

Every parquet file in DATA_DIR becomes a view named after the file. For
every OUT_DIR/<query>.sql (the query's `SparkEntry.oracleSql`, written by
perfbench.Main) it writes the result to OUT_DIR/<query>.parquet, or the
error to OUT_DIR/<query>.error. Exits with code 3, writing nothing, when
the duckdb module is not installed.
"""

import glob
import os
import sys
import time


def main():
    data, out = sys.argv[1], sys.argv[2]
    try:
        import duckdb
    except ImportError:
        sys.exit(3)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(out, 'duckdb.tmp')}'")
    for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        table = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    for sql_file in sorted(glob.glob(os.path.join(out, "*.sql"))):
        name = os.path.basename(sql_file)[:-len(".sql")]
        with open(sql_file) as fh:
            sql = fh.read()
        t0 = time.time()
        try:
            con.execute(f"COPY ({sql}) TO '{os.path.join(out, name)}.parquet' (FORMAT parquet)")
            status = "ok"
        except Exception as e:  # recorded per query, counted as a failure
            with open(os.path.join(out, f"{name}.error"), "w") as fh:
                fh.write(f"{type(e).__name__}: {e}")
            status = "error"
        print(f"# duckdb {name} {status} {time.time() - t0:.2f}s", file=sys.stderr)


if __name__ == "__main__":
    main()
