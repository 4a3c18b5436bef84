"""Correctness checks: an order-insensitive canonical hash of a result,
and the DuckDB oracles it is compared against.

The canonical form follows the contract's comparator (columns sorted by
name, each value stringified, rows sorted), with one widening so that a
pandas frame and DuckDB's Python rows hash alike: NULL, NaN and NaT all
read ``NULL``, and an integral float reads as an integer (pandas turns a
nullable integer column into floats).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def rows_hash(columns, rows) -> str:
    """Hash of ``rows`` (tuples in ``columns`` order), order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in canon:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def frame_hash(pdf: pd.DataFrame) -> str:
    cols = list(pdf.columns)
    return rows_hash(cols, pdf.itertuples(index=False, name=None))


class Oracle:
    """DuckDB over the generated parquet tables."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def sql_hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return rows_hash(cols, cur.fetchall())

    def frame_sql_hash(self, sql: str, **frames: pd.DataFrame) -> str:
        """Hash of ``sql`` run over pandas ``frames`` bound by name."""
        for name, df in frames.items():
            self.con.register(name, df)
        try:
            return self.sql_hash(sql)
        finally:
            for name in frames:
                self.con.unregister(name)

    def close(self) -> None:
        self.con.close()
