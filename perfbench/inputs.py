"""Seeded inputs: a copy of the vendored sf0.1 tables with a seeded row order
and a seeded split into files, and the self-check that the copy holds the
same rows."""
import os
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
# `sf0.1` must stay in every input path: the program derives its TPC-DS
# scale from that token and would silently use scale 1 without it
SOURCE = os.path.join(HERE, "data", "sf0.1")
TABLES = ("events", "documents", "embeddings")


def write_seeded(dest, seed):
    """Write each table to `dest/<table>.parquet/` as 2 to 5 part files
    holding a seeded permutation of its rows."""
    rng = np.random.RandomState(seed)
    if os.path.exists(dest):
        shutil.rmtree(dest)
    for t in TABLES:
        table = pq.read_table(os.path.join(SOURCE, f"{t}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        parts = int(rng.randint(2, 6))
        cuts = np.sort(rng.choice(np.arange(1, table.num_rows), parts - 1, replace=False))
        out = os.path.join(dest, f"{t}.parquet")
        os.makedirs(out)
        for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, table.num_rows])):
            pq.write_table(table.slice(a, b - a), os.path.join(out, f"part-{i:05d}.parquet"))


def table_digest(con, glob):
    """(row count, order-independent sum of row hashes) of a parquet glob."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{glob}')").fetchall()]
    row = ", ".join(f'"{c}"' for c in cols)
    return tuple(con.execute(
        f"SELECT count(*), sum(hash({row})::HUGEINT) FROM read_parquet('{glob}')").fetchone())


def self_check(dest):
    """Tables whose copy differs from the source in row count or content."""
    con = duckdb.connect()
    bad = []
    for t in TABLES:
        if table_digest(con, os.path.join(SOURCE, f"{t}.parquet")) != \
                table_digest(con, os.path.join(dest, f"{t}.parquet", "*.parquet")):
            bad.append(t)
    return bad
