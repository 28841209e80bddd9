"""Independent checks: DuckDB over the same parquet, and frame comparison.

Nothing here imports the package under test, so an expected result never
comes from the program's own code.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, values in comparable dtypes, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) else s
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s) or pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64")
        else:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True)


def digest(df: pd.DataFrame) -> str:
    """Exact identity of a canonical frame (repeat rounds must match)."""
    h = hashlib.sha1(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


class Repeats:
    """The first output of every op, kept for the end-of-run check; the
    output of every later round must hash the same."""

    def __init__(self):
        self.firsts = {}  # label -> (op, frame)
        self._digests = {}

    def add(self, label: str, op, out: pd.DataFrame) -> "list[str]":
        dg = digest(canon(out))
        if label not in self._digests:
            self._digests[label] = dg
            self.firsts[label] = (op, out)
        elif self._digests[label] != dg:
            return [f"{label}: output differs from its first round's"]
        return []


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> "str | None":
    """None when equal: same columns and rows; floats to 1e-9 relative."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f":
            if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
                bad = int(np.argmax(~np.isclose(a, b, rtol=1e-9, atol=1e-9,
                                                equal_nan=True)))
                return f"column {c} row {bad}: {a[bad]!r} != {b[bad]!r}"
        elif not (a == b).all():
            bad = int(np.argmax(a != b))
            return f"column {c} row {bad}: {a[bad]!r} != {b[bad]!r}"
    return None
