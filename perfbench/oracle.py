"""Output check against the registry's DuckDB oracles.

Values are compared order-insensitively after a full-precision ``repr`` of
every float, so ``-0.0`` differs from ``0.0`` and a last-digit drift is a
mismatch, as in a value hash of the rows. Keys without an oracle must return
at least one row.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else repr(f)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return None if v is pd.NaT else v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _canon(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm(r[c]) for c in cols) for r in pdf.to_dict("records")),
        key=repr,
    )
    return cols, rows


class Oracle:
    """DuckDB views over one scale factor's parquet files."""

    def __init__(self, sf_dir: str):
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def check(self, result: pd.DataFrame, oracle_sql: str | None) -> str | None:
        """Return None when ``result`` is correct, else a one-line reason."""
        if oracle_sql is None:
            return None if len(result) else "rows-only key returned no rows"
        expected = self._con.execute(oracle_sql).fetchdf()
        got_cols, got = _canon(result)
        exp_cols, exp = _canon(expected)
        if got_cols != exp_cols:
            return f"columns {got_cols} != oracle {exp_cols}"
        if len(got) != len(exp):
            return f"{len(got)} rows != oracle {len(exp)}"
        for a, b in zip(got, exp):
            if a != b:
                return f"row {a!r} != oracle {b!r}"[:300]
        return None

    def close(self) -> None:
        self._con.close()
