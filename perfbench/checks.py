"""Output checks: order-insensitive fingerprints of a result table.

A fingerprint is ``(rows, sorted column names, sum of per-row hashes
mod 2**64)``, so two results match whatever order their rows come
in. Numeric columns hash as float64, which makes ``3`` (DuckDB BIGINT)
and ``3.0`` (a Spark DOUBLE written to CSV) the same value; with
``float_digits`` set, floats are first rounded to that many
significant digits, for results whose summation order may vary.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.csv as pacsv


def fingerprint(df: pd.DataFrame, float_digits: int | None = None) -> dict:
    cols = sorted(df.columns)
    canon = {}
    for c in cols:
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            v = s.astype("float64").to_numpy()
            if float_digits is not None:
                v = _round_sig(v, float_digits)
            canon[c] = v
        else:
            canon[c] = s.astype("string").fillna("\0null").to_numpy(dtype=object)
    frame = pd.DataFrame(canon, columns=cols)
    row_hash = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    return {"rows": int(len(frame)), "columns": cols,
            "hash": f"{int(row_hash.sum(dtype=np.uint64)):016x}"}


def _round_sig(v: np.ndarray, digits: int) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        mag = np.where(v == 0, 0, np.floor(np.log10(np.abs(v))))
        scale = 10.0 ** (digits - 1 - mag)
        return np.where(np.isfinite(v), np.round(v * scale) / scale, v)


def csv_fingerprint(path: Path, float_digits: int | None = None) -> dict:
    """Fingerprint of a CSV file with a header row, as the sink writes it."""
    return fingerprint(pacsv.read_csv(path).to_pandas(), float_digits)
