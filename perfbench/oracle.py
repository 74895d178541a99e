"""DuckDB oracle over the same parquet files the program reads, and the
result comparison rules. Oracle work runs outside every timed region."""

from __future__ import annotations

import decimal
import math
import os

import duckdb


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per parquet file in ``data_dir``."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return con


def _norm(v):
    if v is None or isinstance(v, (bool, str, int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "item"):  # numpy scalars
        return v.item()
    return str(v)


def _is_num(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _key(row):
    # exact fields first, numbers after, so a bag compare pairs rows by
    # their exact values even where the two sides round differently
    return (tuple("" if _is_num(x) else repr(x) for x in row),
            tuple(float(x) if _is_num(x) else 0.0 for x in row))


def _same_value(a, b) -> bool:
    if _is_num(a) and _is_num(b):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got, want, ordered: bool = False) -> bool:
    """Row lists equal as bags (or in order), numbers to 1e-9 relative.
    Lexical forms (protocol results) are read as numbers wherever the
    oracle's column is numeric."""
    want = [tuple(_norm(v) for v in r) for r in want]
    if len(got) != len(want):
        return False
    numeric = [_is_num(v) for v in want[0]] if want else []
    try:
        got = [tuple(float(v) if isinstance(v, str) and n else _norm(v)
                     for v, n in zip(r, numeric + [False] * len(r)))
               for r in got]
    except ValueError:
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(a) == len(b) and all(map(_same_value, a, b))
               for a, b in zip(got, want))
