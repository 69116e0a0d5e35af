"""DuckDB oracle compare for the operator-suite results.

Each oracle-gated query's Spark result (parquet, one directory per query)
is compared with DuckDB running that query's `SparkEntry.oracleSql` over
the same tables: column names, row count and values, with columns sorted
by name, floats rounded to 6 places and rows sorted (the comparison
tools/check.py makes).
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(tables_dir: str, dump_dir: str, tmp_dir: str) -> list:
    """Returns one failure message per query that does not match."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    with open(os.path.join(dump_dir, "oracle_sql.json"), encoding="utf-8") as fh:
        oracle = json.load(fh)
    failures = []
    answers = {}  # several queries share one oracle statement
    for name, sql in sorted(oracle.items()):
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            failures.append(f"{name}: no Spark result")
            continue
        try:
            got = _canon(pd.read_parquet(path))
            if sql not in answers:
                answers[sql] = _canon(con.execute(sql).fetchdf())
            want = answers[sql]
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            failures.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if list(got.columns) != list(want.columns):
            failures.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            failures.append(f"{name}: rows {len(got)} vs {len(want)}")
        else:
            gs, ws = got.astype(str), want.astype(str)
            if not gs.equals(ws):
                n = int((gs != ws).any(axis=1).sum())
                failures.append(f"{name}: {n} differing rows")
    con.close()
    return failures
