"""Local approximation of the driver's CORRECTNESS gate at sf0.01.

Runs every catalog query on Spark AND its DuckDB oracle, comparing row count,
column names, VALUE-equality, and — stricter than tests/test_oracle_parity.py
— the pandas dtype of every column (the driver hashes typed values, so a
DuckDB HUGEINT vs Spark long mismatch fails there even when values match).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rio_spark.plans.catalog import ORACLES, QUERIES  # noqa: E402
from rio_spark.session import get_spark  # noqa: E402
from rio_spark.testing.parity import TABLES, canon  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional second arg: comma-separated substrings — only queries whose name
# contains one of them run (targeted re-parity after touching one operator)
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None


def main():
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    failures = []
    names = sorted(QUERIES)
    if ONLY:
        names = [n for n in names if any(s in n for s in ONLY)]
    for name in names:
        try:
            got = QUERIES[name](spark, SF_DIR).toPandas()
            if name not in ORACLES:
                print(f"{name}: NO ORACLE rows={len(got)}")
                continue
            want = con.execute(ORACLES[name]).df()
            problems = []
            if sorted(got.columns) != sorted(want.columns):
                problems.append(f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
            else:
                g = got.reindex(sorted(got.columns), axis=1)
                w = want.reindex(sorted(want.columns), axis=1)
                for c in g.columns:
                    # normalize pandas nullable vs numpy dtypes by kind
                    gk = g[c].dtype.kind if hasattr(g[c].dtype, "kind") else str(g[c].dtype)
                    wk = w[c].dtype.kind if hasattr(w[c].dtype, "kind") else str(w[c].dtype)
                    if gk != wk:
                        problems.append(f"dtype[{c}] {g[c].dtype} vs {w[c].dtype}")
                if len(got) != len(want):
                    problems.append(f"rows {len(got)} vs {len(want)}")
                elif canon(got) != canon(want):
                    cg, cw = canon(got), canon(want)
                    bad = [(a, b) for a, b in zip(cg, cw) if a != b][:2]
                    problems.append(f"values differ, e.g. {bad}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{name}: {status} (rows={len(got)})")
            if problems:
                failures.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
