"""DuckDB oracle check of the gates' captured outputs.

Each gate's full result (parquet, written by the untimed capture pass) is
compared with its oracle SQL run in DuckDB over the same fixture: columns
sorted by name, rows sorted by value, values compared as text, exactly as
``tools/check.py`` does. Gates without oracle SQL are checked on completion
and on their digest alone.
"""
import hashlib
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def expected(con, data_dir, name, sql):
    """The oracle's canonical result, cached next to the fixture it ran on."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir, "oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    exp = canon(con.execute(sql).fetchdf())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp


def check(out_dir, data_dir, oracle_sql, gates):
    """Returns {gate: None if the output matches, else a reason}. Gates
    without oracle SQL wrote no output and pass on completion alone."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    result = {}
    for name in gates:
        path = os.path.join(out_dir, name)
        if name not in oracle_sql:
            result[name] = None
            continue
        if not os.path.isdir(path):
            result[name] = "no output written"
            continue
        try:
            got = canon(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf())
            exp = expected(con, data_dir, name, oracle_sql[name])
        except Exception as e:  # a failed read or oracle query is a failed check
            result[name] = f"check error: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            result[name] = f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            result[name] = f"row count {len(got)} vs oracle {len(exp)}"
        else:
            bad = [c for c in got.columns
                   if not (got[c].astype(str) == exp[c].astype(str)).all()]
            result[name] = f"values differ in {bad}" if bad else None
    con.close()
    return result
