"""Golden digests: each listed query's expected result, from the DuckDB oracle
SQL the program ships (SparkEntry.oracleSql) over the canonical inputs, or,
for a query with no oracle, from the program's own result on them."""
import glob
import os

import duckdb
import pandas as pd

import inputs
import measure

# the TPC-DS oracle SQL reads the sf0.01 tables at this fixed path; the
# benchmark runs at sf0.1, whose tables the program writes beside them
TPCDS_ORACLE_ROOT = "/tmp/graft-tpcds/v10-sf0.01"


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def goldens(oracle_sql, reference_dir, tpcds_root, names):
    """{query: digest} for `names`. `tpcds_root` is where the sf0.1 TPC-DS
    tables are visible to this process."""
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs.SOURCE, t)}.parquet')")
    out = {}
    for n in names:
        if n in oracle_sql:
            sql = oracle_sql[n].replace(TPCDS_ORACLE_ROOT, tpcds_root)
            out[n] = measure.digest(con.execute(sql).fetchdf())
        else:
            out[n] = measure.digest(read_result(os.path.join(reference_dir, "results", n)))
    return out
