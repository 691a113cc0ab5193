"""Checks op results against the DuckDB oracle (`SparkEntry.oracleSql`).

The comparison rules and the oracle's time budget are dev/check_oracle.py's
own (`canon`, `run_with_budget`): column names, DuckDB column types and row
counts must agree, and then every value must agree as its pandas string
form after sorting, with no float tolerance. This module adds what a
benchmark run needs on top: DuckDB types read from hive-partitioned
results, a partition column left out of the comparison, and a cache.

Oracle results are cached under target/oracle, keyed by the SQL and the
name, size and modification time of every fixture table, so only the first
run on a fixture directory pays for DuckDB.
"""
import hashlib
import pickle
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent / "dev"))
from check_oracle import canon, run_with_budget  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CACHE = HERE / "target" / "oracle"


class Oracle:
    def __init__(self, data_dir, temp_dir):
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='4GB'")
        self.con.execute("SET threads=4")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        fingerprint = hashlib.sha256()
        for t in TABLES:
            path = Path(data_dir) / f"{t}.parquet"
            st = path.stat()
            fingerprint.update(f"{t} {st.st_size} {st.st_mtime_ns}\n".encode())
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.fingerprint = fingerprint.hexdigest()

    def close(self):
        self.con.close()

    def expected(self, sql):
        """The oracle's rows and its DuckDB column types."""
        key = hashlib.sha256(f"{self.fingerprint}\n{sql}".encode()).hexdigest()
        cached = CACHE / f"{key}.pkl"
        if cached.is_file():
            return pickle.loads(cached.read_bytes())
        rows = run_with_budget(self.con, sql)
        types = {r[0]: r[1] for r in self.con.execute(f"DESCRIBE {sql}").fetchall()}
        CACHE.mkdir(parents=True, exist_ok=True)
        tmp = cached.with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps((rows, types)))
        tmp.replace(cached)
        return rows, types

    def compare(self, result_dir, sql, drop=()):
        """None when the parquet result under `result_dir` matches the
        oracle `sql`, else a one-line reason. Columns in `drop` (a partition
        column the oracle does not have) are left out of the Spark side.
        """
        if result_dir is None:
            return "no result was written"
        if sql is None:
            return "no oracle SQL"
        try:
            spark = pd.read_parquet(result_dir)
            spark = spark.drop(columns=[c for c in drop if c in spark.columns])
            got = {r[0]: r[1] for r in self.con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{result_dir}/**/*.parquet', "
                "hive_partitioning = true)").fetchall() if r[0] not in drop}
            duck, want = self.expected(sql)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            return f"{type(e).__name__}: {e}"
        if sorted(spark.columns) != sorted(duck.columns):
            return f"columns {sorted(spark.columns)} vs oracle {sorted(duck.columns)}"
        if got != want:
            return f"types {got} vs oracle {want}"
        if len(spark) != len(duck):
            return f"{len(spark)} rows vs oracle {len(duck)}"
        a, b = canon(spark), canon(duck)
        if not a.equals(b):
            i = int((a != b).any(axis=1).idxmax())
            return f"row {i}: spark={a.iloc[i].to_dict()} oracle={b.iloc[i].to_dict()}"
        return None
