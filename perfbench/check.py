"""Output check: every result the benchmark's warm pass dumped, against
that query's DuckDB oracle on the same tables.

The rule is tools/compare.py's: the same columns (sorted by name), the
same dtypes, the same row count and the same rows after sorting their
stringified values. Oracle results depend only on the SQL and the input
tables, so they are cached under `.bench_build/perfbench/oracle`.
"""
import glob
import hashlib
import importlib.util
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _compare_rule(root):
    spec = importlib.util.spec_from_file_location(
        "graft_compare", os.path.join(root, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def check(root, data_dir, data_key, dump_dir, oracle_sql, names, cache_dir):
    """Return {query name: None if it matches its oracle, else why not}."""
    norm = _compare_rule(root)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        sql = oracle_sql.get(name)
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if sql is None:
            out[name] = "no oracle"
            continue
        if not files:
            out[name] = "no spark output (the warm pass failed)"
            continue
        key = hashlib.sha256((data_key + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".pkl")
        try:
            if os.path.exists(cached):
                with open(cached, "rb") as f:
                    ora = pickle.load(f)
            else:
                ora = norm(con.sql(sql).df())
                with open(cached + ".tmp", "wb") as f:
                    pickle.dump(ora, f)
                os.replace(cached + ".tmp", cached)
            spark = norm(con.sql(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").df())
        except Exception as e:  # a broken oracle or dump is a failed check
            out[name] = f"error: {e}"
            continue
        if list(spark.columns) != list(ora.columns):
            out[name] = f"columns {list(spark.columns)} != {list(ora.columns)}"
        elif [str(t) for t in spark.dtypes] != [str(t) for t in ora.dtypes]:
            out[name] = f"dtypes {list(spark.dtypes)} != {list(ora.dtypes)}"
        elif len(spark) != len(ora):
            out[name] = f"rows {len(spark)} != {len(ora)}"
        elif not spark.astype(str).equals(ora.astype(str)):
            out[name] = "values differ"
        else:
            out[name] = None
    con.close()
    return out
