"""The benchmark's own model of the reference pipeline, and the result
comparisons the correctness gate makes.

The model restates ``SCD-Automation.sql:31-102`` in plain Python:

- LANDING (task3): MERGE on ``supplier_code``; a matched row whose state,
  name or key differs is replaced and emits a DELETE + INSERT change pair,
  a new code is inserted and emits an INSERT, an identical re-send emits
  nothing.
- STAGING (task4): MERGE the change batch on ``(code, state)``. A DELETE
  closes every staging row with that pair (``end_date = now``, flag
  ``N``); an INSERT opens a version unless a row with that pair already
  exists. Both sides see the pre-merge staging.
- MASTER (task5): the staging rows flagged ``Y``.

It runs on the generator's rows, never on anything the engine produced."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import numpy as np
import pandas as pd

SUPPLIER_COLS = ["supplier_key", "supplier_code", "supplier_name", "supplier_state"]
STAGING_COLS = SUPPLIER_COLS + ["start_date", "end_date", "current_flag"]


class SupplierModel:
    def __init__(self):
        self.landing: dict[str, tuple] = {}
        # code -> versions, each [key, code, name, state, start, end, flag]
        self.staging: dict[str, list[list]] = {}

    def apply(self, rows, now: dt.datetime) -> None:
        deletes, inserts = [], []
        for row in rows:
            old = self.landing.get(row[1])
            if old is None:
                inserts.append(row)
            elif old != row:
                deletes.append(old)
                inserts.append(row)
            else:
                continue
            self.landing[row[1]] = row
        closing = {(r[1], r[3]) for r in deletes}
        opening = [r for r in inserts
                   if not any(v[3] == r[3] for v in self.staging.get(r[1], ()))]
        for c, s in closing:
            for v in self.staging.get(c, ()):
                if v[3] == s:
                    v[5], v[6] = now, "N"
        for r in opening:
            self.staging.setdefault(r[1], []).append([*r, now, None, "Y"])

    def frames(self) -> dict[str, pd.DataFrame]:
        landing = pd.DataFrame(list(self.landing.values()), columns=SUPPLIER_COLS)
        staging = pd.DataFrame([v for vs in self.staging.values() for v in vs],
                               columns=STAGING_COLS)
        master = staging.loc[staging.current_flag == "Y", SUPPLIER_COLS]
        return {"landing": landing, "staging": staging, "master": master}


def table_digest(df: pd.DataFrame) -> tuple[int, str]:
    """``(rows, hash)`` of a frame, independent of row and column order:
    the wrapping sum of one 64-bit hash per row. Cells are rendered to
    text first, so frames with equal contents hash alike whatever dtypes
    they arrived in."""
    if len(df) == 0:
        return 0, "0"
    cols = sorted(df.columns)
    text = pd.DataFrame({c: _render(df[c]) for c in cols})
    h = pd.util.hash_pandas_object(text, index=False).to_numpy(np.uint64)
    return len(df), format(int(h.sum(dtype=np.uint64)), "016x")


def _render(col: pd.Series) -> pd.Series:
    present = col.dropna()
    if pd.api.types.is_datetime64_any_dtype(col) or (
            len(present) and isinstance(present.iloc[0], dt.datetime)):
        ts = pd.to_datetime(col)
        return ts.dt.strftime("%Y-%m-%dT%H:%M:%S.%f").where(ts.notna(), "<null>")
    if pd.api.types.is_float_dtype(col):
        return col.round(6).astype(str).where(col.notna(), "<null>")
    return col.astype(object).where(col.notna(), "<null>").astype(str)


def _cell(v):
    """A cell in comparable form: numbers as floats, nulls as None."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (dt.datetime, dt.date, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _sort_key(row) -> str:
    return repr(tuple(f"{x:.6g}" if isinstance(x, float) else
                      _sort_key(x) if isinstance(x, tuple) else x for x in row))


def same_rows(a: pd.DataFrame, b: pd.DataFrame, rel: float = 1e-6) -> bool:
    """Order-insensitive equality of two results with float tolerance, for
    an engine result against a DuckDB oracle (types differ: DECIMAL vs
    DOUBLE, INTEGER vs BIGINT)."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)

    def rows(df):
        out = [tuple(_cell(v) for v in r)
               for r in df[cols].itertuples(index=False, name=None)]
        return sorted(out, key=_sort_key)

    def close(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return math.isclose(x, y, rel_tol=rel, abs_tol=1e-9)
        if isinstance(x, tuple) and isinstance(y, tuple):
            return len(x) == len(y) and all(map(close, x, y))
        return x == y

    return all(close(x, y) for x, y in zip(rows(a), rows(b)))
