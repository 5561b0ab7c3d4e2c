"""Order-insensitive result digests, following the DuckDB-parity
conventions of ``tests/conftest.py``: columns sorted by name, each cell
rendered canonically (NULL/NaN/NaT as ``\\N``, floats by ``repr``,
midnight timestamps as dates), rows sorted. The digest is the row count
and the SHA-256 of the sorted rendered rows."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pandas as pd


def _cell(v) -> str:
    if v is None or (not isinstance(v, (str, bytes, list)) and pd.isna(v)):
        return "\\N"
    if isinstance(v, float):
        return "\\N" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is None and ts == ts.normalize():
            return ts.date().isoformat()
        return ts.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def digest(pdf: pd.DataFrame) -> dict:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}
