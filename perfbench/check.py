"""Result checks: each registry op against its DuckDB oracle.

Oracle answers come from ``Query.oracle_sql`` run on DuckDB views over the same
parquet files the engine reads, fetched through Arrow. Both sides are put in
the canonical form of the correctness export (``_canon`` of
``scripts/export_correctness_full.py``: columns sorted, datetimes as ns,
integers as int64, floats rounded to 6 places, DATE objects as datetimes, rows
sorted) and must then be frame-equal, dtype kinds included. Answers are
cached on disk by table directory, DuckDB version and SQL text, so a run
that repeats an earlier one's inputs does not pay for the oracle again.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
import pyarrow as pa

from scripts.export_correctness_full import _canon


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in pdf.columns:
        if getattr(pdf[c].dtype, "tz", None) is not None:
            # toArrow() keeps the session zone (UTC) that toPandas() drops;
            # compare as naive UTC, as toPandas() would.
            pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return _canon(pdf)


def arrow_canon(table: pa.Table) -> pd.DataFrame:
    return canon(table.to_pandas())


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when two canonical frames are equal, else a one-line reason."""
    if list(actual.columns) != list(expected.columns):
        return f"columns {list(actual.columns)} != {list(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    for c in actual.columns:
        if actual[c].dtype.kind != expected[c].dtype.kind:
            return f"dtype of {c}: {actual[c].dtype} != {expected[c].dtype}"
    if not actual.equals(expected):
        return "values differ"
    return None


class Oracle:
    """DuckDB views over one table directory; answers are canonical frames."""

    def __init__(self, table_dir: str, tables: tuple[str, ...], cache_dir: str):
        self.table_dir, self.cache_dir = table_dir, cache_dir
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'"
            )

    def answer(self, sql: str) -> pd.DataFrame:
        key = "\0".join((os.path.basename(self.table_dir), duckdb.__version__, sql))
        path = os.path.join(self.cache_dir, hashlib.sha256(key.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        frame = arrow_canon(self.con.execute(sql).arrow())
        os.makedirs(self.cache_dir, exist_ok=True)
        frame.to_pickle(f"{path}.tmp-{os.getpid()}")
        os.replace(f"{path}.tmp-{os.getpid()}", path)
        return frame

    def close(self) -> None:
        self.con.close()
