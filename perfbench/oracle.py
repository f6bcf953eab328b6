"""DuckDB oracle for the lake_queries mix.

Runs each query's oracle SQL (`graft.SparkEntry.oracleSql`, written by the
build) with DuckDB over the generated tables and writes every result to
`<out_dir>/<query>.parquet`. The benchmark JVM turns each oracle result
into the golden checksum that every measured execution of the query is
compared with (perfbench.Harness.checksum), so each op is checked
against an independent engine, not against an earlier Spark run.
"""
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq


def write_results(sql_path, data_dir, out_dir):
    """Write the oracle results; return {query: error} for SQL failures."""
    with open(sql_path) as f:
        sql = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    errors = {}
    for name, q in sorted(sql.items()):
        if q is None:
            errors[name] = "no oracle SQL"
            continue
        try:
            pq.write_table(con.execute(q).arrow(), os.path.join(out_dir, f"{name}.parquet"))
        except Exception as e:  # a broken oracle is a failed check, not a crash
            errors[name] = f"oracle error: {e}"
    con.close()
    return errors
