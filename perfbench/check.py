"""Result checking against DuckDB on the same parquet.

The comparison follows tools/diffcheck.py, the repository's oracle gate:
columns matched by sorted name, rows sorted over all columns, numpy dtype
kinds equal (integer widths may differ), values equal exactly with NaN equal
to NaN and no float tolerance. The served result is read through DuckDB, as
the gate reads Spark's parquet dump, so both sides pass through the same
Arrow-to-pandas conversion.
"""
import os

import duckdb
import numpy as np
import pandas as pd

from gendata import TABLES


def oracle_connection(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _isna_scalar(v):
    try:
        r = pd.isna(v)
        return r if isinstance(r, (bool, np.bool_)) else False
    except Exception:
        return False


def _kind(t):
    k = t.kind
    return "i" if k in "iu" else k


def compare(ours, oracle):
    """None when equal, else a one-line reason (the wrong-result class)."""
    ocols = sorted(oracle.columns)
    scols = sorted(ours.columns)
    if ocols != scols:
        return f"COLUMN MISMATCH served={scols} oracle={ocols}"
    if len(ours) != len(oracle):
        return f"ROWCOUNT MISMATCH served={len(ours)} oracle={len(oracle)}"
    ours, oracle = ours[ocols], oracle[ocols]
    try:
        ours = ours.sort_values(by=ocols, kind="mergesort").reset_index(drop=True)
        oracle = oracle.sort_values(by=ocols, kind="mergesort").reset_index(drop=True)
    except (TypeError, ValueError) as e:
        return f"UNSORTABLE {type(e).__name__}"
    sd = [_kind(t) for t in ours.dtypes]
    od = [_kind(t) for t in oracle.dtypes]
    if sd != od:
        diffs = [f"{c}: served={ta} oracle={tb}"
                 for c, a, b, ta, tb in zip(ocols, sd, od, ours.dtypes, oracle.dtypes)
                 if a != b]
        return "DTYPE-KIND MISMATCH " + "; ".join(diffs)
    for c in ocols:
        for i, (x, y) in enumerate(zip(ours[c], oracle[c])):
            try:
                if _isna_scalar(x) and _isna_scalar(y):
                    continue
                differs = x != y
                if hasattr(differs, "any"):
                    differs = bool(differs.any())
            except (TypeError, ValueError) as e:
                return f"UNCOMPARABLE col={c}: {type(e).__name__}"
            if differs:
                return f"VALUE MISMATCH col={c} row={i}: served={x!r} oracle={y!r}"[:200]
    return None


def to_frame(con, table):
    """An Arrow table as DuckDB hands it to pandas."""
    return con.from_arrow(table).df()


class Oracle:
    """Expected results per statement text, computed once per text."""

    def __init__(self, data_dir):
        self.con = oracle_connection(data_dir)
        self.cache = {}

    def expected(self, sql):
        if sql not in self.cache:
            try:
                self.cache[sql] = (self.con.execute(sql).df(), None)
            except Exception as e:
                self.cache[sql] = (None, f"ORACLE ERROR {type(e).__name__}")
        return self.cache[sql]

    def check(self, sql, table):
        """None when `table` is the oracle's answer to `sql`, else the reason."""
        want, err = self.expected(sql)
        if err:
            return err
        return compare(to_frame(self.con, table), want)
