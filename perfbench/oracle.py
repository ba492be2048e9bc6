"""DuckDB side of the benchmark's correctness check. It runs outside the
timed region, after the JVM has exited.

Tables are loaded the way tools/preflight.py loads them (one view per
fixture table over its parquet file), and frames are compared the way it
compares them: columns sorted by name, rows sorted, then
`pandas.util.hash_pandas_object` summed.
"""
import os

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def row_counts(data, sqls):
    """{query name: row count of its oracle SQL on the generated tables}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return {name: len(con.execute(sql).fetchall()) for name, sql in sqls.items()}


def content_hash(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def etl_check(data, work, deltas, noops, refresh):
    """Checks the replayed Derby target (dumped by the JVM to
    target.parquet) against the latest revision per key over the change
    log, and against a one-shot refresh of the final log (oneshot.parquet);
    and checks each call's delta row count against the log."""
    con = duckdb.connect()
    log = os.path.join(data, "etl")

    def rows(path):
        return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]

    failed = []
    if refresh["delta_rows"] != rows(f"{log}/base.parquet"):
        failed.append(refresh["op"])
    for c in deltas:
        if c["delta_rows"] != rows(f"{log}/{c['day']}"):
            failed.append(c["op"])
    failed += [c["op"] for c in noops if c["delta_rows"] != 0]
    latest = con.execute(f"""
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY upd_day DESC) AS rn
          FROM read_parquet('{log}/*.parquet'))
        WHERE rn = 1""").df()
    target = con.execute(f"SELECT * FROM read_parquet('{work}/target.parquet/*.parquet')").df()
    oneshot = con.execute(f"SELECT * FROM read_parquet('{work}/oneshot.parquet/*.parquet')").df()
    hashes = {"oracle": content_hash(latest), "target": content_hash(target),
              "oneshot": content_hash(oneshot)}
    return {"failed_calls": failed, "content_hashes": hashes,
            "target_rows": len(target), "content_ok": len(set(hashes.values())) == 1}
