"""One-off cross-check of ops-function outputs against the engine's
oracle SQL (SparkEntry.oracleSql) run by DuckDB on the same tables:
columns sorted by name, rows sorted, values compared exactly."""
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df


def check(spans_dir, data_dir):
    """Prints PASS/FAIL per function; returns the number of failures."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    with open(os.path.join(spans_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = 0
    for key in sorted(d for d in os.listdir(spans_dir)
                      if os.path.isdir(os.path.join(spans_dir, d))):
        spark = _canon(pd.read_parquet(os.path.join(spans_dir, key)))
        if key not in oracles:
            print(f"ROWS-ONLY {key}: {len(spark)} rows")
            continue
        duck = _canon(con.execute(oracles[key]).df())
        problem = None
        if list(spark.columns) != list(duck.columns):
            problem = f"columns {list(spark.columns)} vs {list(duck.columns)}"
        elif len(spark) != len(duck):
            problem = f"rows {len(spark)} vs {len(duck)}"
        else:
            for c in spark.columns:
                a, b = spark[c].astype(str).to_numpy(), duck[c].astype(str).to_numpy()
                if (a != b).any():
                    i = int((a != b).argmax())
                    problem = f"{c} row {i}: {a[i]} vs {b[i]}"
                    break
        if problem:
            failures += 1
            print(f"FAIL {key}: {problem}")
        else:
            print(f"PASS {key} ({len(spark)} rows)")
    return failures
