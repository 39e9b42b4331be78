"""Expected registry answers, computed apart from the engine.

DuckDB runs each query's ``oracle_sql`` over the same parquet files the
engine reads, and both sides are compared in the canonical form the test
suite uses (``tests/conftest.py``): columns sorted by name, rows sorted by
every column, exact values.

Some oracles take half a minute, so answers that took more than a second are
cached under ``.perfbench_cache/oracle`` in the checkout, keyed on the SQL text
and the bytes of the tables it reads. Recompute them all with::

    python3 perfbench/oracle.py --clear
"""

from __future__ import annotations

import hashlib
import os
import pickle
import re
import shutil
import sys
import time

TABLES = ("events", "documents")
CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_cache", "oracle"
)


def canonical(df):
    """Sort columns by name and rows by all values (tests/conftest.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def mismatch(got, want) -> str | None:
    """None when the two canonical frames are equal, else why not."""
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    return None


def _table_digest(data_dir: str, table: str, memo: dict) -> str:
    if table not in memo:
        with open(os.path.join(data_dir, f"{table}.parquet"), "rb") as f:
            memo[table] = hashlib.sha256(f.read()).hexdigest()
    return memo[table]


def answers(sql_by_name: dict[str, str], data_dir: str) -> dict:
    """name -> canonical expected DataFrame, from the cache or DuckDB."""
    import duckdb

    os.makedirs(CACHE_DIR, exist_ok=True)
    memo: dict[str, str] = {}
    out, con = {}, None
    for name, sql in sql_by_name.items():
        used = [t for t in TABLES if re.search(rf"\b{t}\b", sql)]
        key = hashlib.sha256(
            (sql + "".join(_table_digest(data_dir, t, memo) for t in used)).encode()
        ).hexdigest()
        path = os.path.join(CACHE_DIR, f"{name}-{key[:24]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                if os.path.exists(os.path.join(data_dir, f"{t}.parquet")):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
                    )
        t0 = time.perf_counter()
        out[name] = canonical(con.execute(sql).fetchdf())
        if time.perf_counter() - t0 < 1.0:
            continue
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(out[name], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


if __name__ == "__main__":
    if sys.argv[1:] != ["--clear"]:
        sys.exit("usage: python3 perfbench/oracle.py --clear  "
                 "(answers are recomputed on the next benchmark run)")
    shutil.rmtree(CACHE_DIR, ignore_errors=True)
    print(f"cleared {CACHE_DIR}")
