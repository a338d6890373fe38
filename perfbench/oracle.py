"""Result verification against the DuckDB oracles.

The comparison is the one the project's oracle-parity tests make: same
column names, same row count, and equal rows after normalisation
(columns sorted by name, cells stringified with floats as ``%.9g``,
rows sorted).
"""

from __future__ import annotations

import math
import os

import duckdb

from datagen import TABLES


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


class Oracle:
    def __init__(self, data_dir: str):
        self.conn = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.conn.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check(self, name: str, sql: str, cols, rows) -> str | None:
        """None when ``rows`` (the Spark result) equals the oracle's,
        else a one-line reason."""
        res = self.conn.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols):
            return f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{name}: {len(rows)} rows vs oracle {len(drows)}"
        a, b = normalize(cols, rows), normalize(dcols, drows)
        bad = sum(1 for x, y in zip(a, b) if x != y)
        if bad:
            first = next((x, y) for x, y in zip(a, b) if x != y)
            return f"{name}: {bad} rows differ; first {first}"
        return None

    def close(self) -> None:
        self.conn.close()
