"""DuckDB oracle compare of a `graft.Verify` dump.

For every declared leaf: the Spark output (parquet under <dump>/<leaf>)
must equal the leaf's oracle SQL run by DuckDB over the same tables —
columns sorted by name, rows sorted, values compared as strings. `same`
copies the comparison of tools/check_oracle.py; that script runs its whole
check when imported and stops at the first leaf with no output, so it is
not reused. A leaf with no output, no oracle, or a DuckDB error fails.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def leaf_frame(dump: str, leaf: str):
    files = glob.glob(os.path.join(dump, leaf, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)


def same(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    """'' when equal, else why not."""
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        return f"columns: spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows: spark={len(s)} duck={len(d)}"
    s2 = s.sort_values(by=list(s.columns)).reset_index(drop=True).astype(str)
    d2 = d.sort_values(by=list(d.columns)).reset_index(drop=True).astype(str)
    if s2.equals(d2):
        return ""
    return f"value mismatch in {int((s2 != d2).any(axis=1).sum())} rows"


def check(tables: str, dump: str, leaves: list) -> dict:
    """Maps every failing leaf to its reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    path = os.path.join(dump, "oracle_sql.json")
    oracles = json.load(open(path)) if os.path.exists(path) else {}
    bad = {}
    for leaf in leaves:
        got = leaf_frame(dump, leaf)
        if got is None:
            bad[leaf] = "no output"
        elif leaf not in oracles:
            bad[leaf] = "no oracle"
        else:
            try:
                why = same(got, con.execute(oracles[leaf]).fetchdf())
            except Exception as e:  # an oracle that cannot run proves nothing
                why = f"duckdb error: {e}"
            if why:
                bad[leaf] = why
    con.close()
    return bad
