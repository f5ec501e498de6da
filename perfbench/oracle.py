"""DuckDB oracle check: a Spark result must equal its SQL twin.

Row order and column order do not matter; every value does. Both frames
are sorted on all their (name-sorted) columns and compared column by
column: numbers exactly (NaN equals NaN, and a negative zero differs from
a positive one), anything else as strings. Frames whose cells cannot be
sorted (arrays, maps) fall back to comparing sorted tuples of canonical
cell strings.
"""

from __future__ import annotations

import math

def connect(sf_dir: str, threads: int):
    """DuckDB with one view per engine table over the same parquet files."""
    import duckdb

    from iot_etl_spark.schemas import STAR_TABLES

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir.rstrip('/')}/{t}.parquet')"
        )
    return con


def canon_cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "<null>"
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, np.integer):
        return str(int(v))
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return "<null>"
    return str(v)


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    return sorted(
        tuple(canon_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )


def _sorted_mismatch(actual, expected) -> str | None:
    """Vectorised comparison; raises TypeError on unsortable cells."""
    import numpy as np

    cols = sorted(actual.columns)
    a = actual[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    e = expected[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        x, y = a[c], e[c]
        if x.dtype.kind in "iufb" and y.dtype.kind in "iufb":
            xv, yv = x.to_numpy(dtype=float), y.to_numpy(dtype=float)
            same = ((xv == yv) & (np.signbit(xv) == np.signbit(yv))) | (np.isnan(xv) & np.isnan(yv))
        else:
            same = (x.map(canon_cell) == y.map(canon_cell)).to_numpy()
        if not bool(same.all()):
            i = int(np.argmax(~same))
            return f"values differ in {c}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return None


def mismatch(actual, expected) -> str | None:
    """None when the two pandas frames hold the same rows; else why not."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    try:
        return _sorted_mismatch(actual, expected)
    except TypeError:
        pass
    a, e = canonical_rows(actual), canonical_rows(expected)
    if a != e:
        first = next((x, y) for x, y in zip(a, e) if x != y)
        return f"values differ, first {first}"
    return None
