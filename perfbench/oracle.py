"""Expected answers for the benchmark's correctness check.

A row's round-1 output is compared, by the gate's own rules
(`tools/oracle_check.py`), with the DuckDB answer to its oracle SQL.
Answers are cached per input content: a row permutation keeps every
table's multiset of rows, so it cannot change a correct answer.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd


class Oracle:
    """DuckDB's answers over the tables in `data_dir`, cached under
    `cache_dir` by SQL text; the connection opens on the first miss."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir, self.cache_dir, self.con = data_dir, cache_dir, None

    def answer(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = duckdb.connect()
            for f in sorted(glob.glob(os.path.join(self.data_dir, "*.parquet"))):
                t = os.path.basename(f)[: -len(".parquet")]
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        df = self.con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self):
        if self.con is not None:
            self.con.close()
