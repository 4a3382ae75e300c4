"""Oracle check of the program's outputs against DuckDB.

Each query's oracle SQL runs on the seed's input tables; its answer is
cached per input variant and query, so a seed pays for its oracles once.
The comparison follows `tools/check.py`: the same column names, the
same normalized type family per column, and equal rows after sorting
both sides by every column, compared as strings.
"""
import glob
import os
import pickle
import re

import duckdb
import pandas as pd

from inputs import TABLES

_CTE = re.compile(r"(?m)^(WITH\s+|,?\s*)(\w+) AS \(")


def _family(dtype) -> str:
    kind = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "time", "m": "time"}.get(kind, "str")


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) > 0:
        key = df.astype(str)
        df = df.loc[key.sort_values(by=list(df.columns)).index]
    return df.reset_index(drop=True)


class Oracle:
    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 2")
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.data_dir}/{t}.parquet')")
        return self.con

    def answer(self, name: str, sql: str) -> pd.DataFrame:
        path = os.path.join(self.cache_dir, f"{name}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        con = self._connect()
        # Materialized CTEs give the same rows; DuckDB would otherwise
        # re-expand the long CTE chains of some oracles for minutes.
        try:
            want = con.execute(_CTE.sub(lambda m: f"{m[1]}{m[2]} AS MATERIALIZED (", sql)).df()
        except duckdb.Error:
            want = con.execute(sql).df()
        want = _norm(want)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(want, fh)
        os.replace(path + ".tmp", path)
        return want

    def mismatch(self, name: str, sql: str, out_dir: str):
        """None when the output in `out_dir` matches, else the reason."""
        files = sorted(glob.glob(f"{out_dir}/*.parquet"))
        if not files:
            return "no output"
        got = _norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        want = self.answer(name, sql)
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}"
        types = [(c, str(got[c].dtype), str(want[c].dtype)) for c in got.columns
                 if len(got) and _family(got[c].dtype) != _family(want[c].dtype)]
        if types:
            return f"types {types}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        eq = got.astype(str).eq(want.astype(str))
        if not bool(eq.all().all()):
            return f"{int((~eq.all(axis=1)).sum())}/{len(got)} rows differ"
        return None
