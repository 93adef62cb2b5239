"""DuckDB oracle comparison of analytics outputs, the way
`scripts/check_oracle.py` compares: columns sorted by name, values
stringified, rows sorted, then equal.

Oracle results are cached under the work directory keyed by a hash of the
SQL text and the input files; `python3 perfbench/oracle.py <data> <sql.json>`
recomputes them from the SQL and the input.
"""
import glob
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def input_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _normalise(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_frame(con, sql, cache_dir, digest):
    import pandas as pd
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.parquet") if cache_dir else None
    if path and os.path.exists(path):
        return pd.read_parquet(path)
    exp = _normalise(con.sql(sql).df())
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        exp.to_parquet(path)
    return exp


def compare(name, sql, out_dir, con, data_dir, cache_dir=None, digest=None):
    """None if the entry's output under out_dir/name equals its oracle,
    else a one-line description of the first difference."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return "no output written"
    got = _normalise(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    try:
        exp = oracle_frame(con, sql, cache_dir, digest or input_digest(data_dir))
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle sql error: {e}"
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows != oracle {len(exp)}"
    diff = (exp != got)
    if diff.values.any():
        cols = [c for c in exp.columns if diff[c].any()]
        row = int(diff.any(axis=1).values.argmax())
        return f"values differ in {cols}; first: {got.iloc[row].to_dict()} vs {exp.iloc[row].to_dict()}"
    return None


def main(argv):
    """recompute: <data dir> <json of {name: sql}> <cache dir>"""
    data_dir, sql_json, cache_dir = argv
    con = connect(data_dir)
    digest = input_digest(data_dir)
    sqls = json.load(open(sql_json))
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            os.remove(path)
        oracle_frame(con, sql, cache_dir, digest)
        print(f"recomputed {name}")


if __name__ == "__main__":
    import sys
    main(sys.argv[1:])
