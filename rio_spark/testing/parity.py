"""Shared Spark-vs-DuckDB comparison semantics for the correctness gate.

ONE definition of row canonicalization and the pre-registered table list,
imported by both tests/test_oracle_parity.py (the local per-query gate) and
jobs/driver_sim.py (the typed sf0.01 sweep) — a rounding or normalization
tweak applied in only one place would silently diverge the two gates.
"""

from __future__ import annotations

import math

import pandas as pd

TABLES = ["customer", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, float-tolerant canonical row list: columns sorted
    by name, None/NaN unified, floats rounded to 9 places, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        out = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                out.append(None)
            elif isinstance(v, float):
                out.append(round(v, 9))
            else:
                out.append(v)
        rows.append(tuple(out))
    return sorted(rows, key=repr)
