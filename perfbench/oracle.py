"""DuckDB oracle results and the result comparison.

Results are normalized the way ``tools/check_oracle.py`` normalizes them:
columns sorted by name, rows sorted by ``repr``, floats rounded to six
places, NaN as a string, booleans as integers.  An array, map or struct
cell cannot be row-sorted and is reported as a mismatch.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb

from datagen import TABLES

Result = tuple[list[str], list[tuple]]


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple, dict)):
        raise TypeError(f"non-scalar cell in output ({type(v).__name__})")
    return v


def normalize(cols, rows) -> Result:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr),
    )


def mismatch(actual: Result, expected: Result) -> str | None:
    """``None`` when the normalized results agree, else the first
    difference in words."""
    (ac, ar), (ec, er) = actual, expected
    if ac != ec:
        return f"columns {ac} != {ec}"
    if len(ar) != len(er):
        return f"row count {len(ar)} != {len(er)}"
    for i, (a, e) in enumerate(zip(ar, er)):
        if a != e:
            return f"sorted row {i}: {a!r} != {e!r}"
    return None


class Oracle:
    """One DuckDB connection with every benchmark table as a view."""

    def __init__(self, data_dir: Path):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir / (t + '.parquet')}')"
            )

    def expected(self, sql: str) -> Result:
        rel = self.con.sql(sql)
        huge = [c for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()]
        if huge:
            raise TypeError(f"oracle returns HUGEINT column(s) {huge}")
        return normalize(list(rel.columns), rel.fetchall())

    def close(self) -> None:
        self.con.close()
