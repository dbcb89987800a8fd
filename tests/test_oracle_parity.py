"""Local replica of the driver's correctness gate: run every catalog query on
Spark AND its DuckDB oracle at sf0.001, compare row count, column names, and
order-insensitive values (floats rounded in the queries themselves)."""

import duckdb
import pytest

from rio_spark.plans.catalog import ORACLES, QUERIES
from rio_spark.testing.parity import TABLES, canon

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.execute(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows vs {len(want)}"
    cg, cw = canon(got), canon(want)
    mismatches = [(a, b) for a, b in zip(cg, cw) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_all_queries_have_callables():
    for name in ORACLES:
        assert name in QUERIES
    # every query has an oracle
    assert set(QUERIES) == set(ORACLES)


def test_driver_cap_window_covers_unchecked_queries():
    """The correctness driver checks an insertion-order PREFIX of at most 50
    queries (observed: CORRECTNESS_r02 rows == queries()[0:50]).  Every
    query that has never had a driver row must therefore sit inside the
    first 50; anything past index 49 must already be green in a recorded
    CORRECTNESS file.  Guards the dict ordering against casual additions.

    Freshness (r3 ADVICE, bound relaxed per r4 ADVICE): a tail query's
    newest green row must be within ONE round of the latest recorded round.
    Recording round N's results necessarily leaves the round-(N-1)-checked
    tail one round old — that is the steady state of a working rotation,
    not staleness — but a tail row TWO rounds old sat past the cap through
    a full round of code changes and must be re-rotated into the window.
    With this bound the suite is green at rest and the test still forces
    each round to open with the rotation.  Self-maintaining: the rounds are
    read from the CORRECTNESS files themselves, no hand-kept ledger."""
    import json
    import pathlib
    import re

    newest_green: dict[str, int] = {}
    latest_round = 0
    for f in pathlib.Path(".").glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)", f.name).group(1))
        latest_round = max(latest_round, rnd)
        rows = json.loads(f.read_text())
        for n, r in rows.items():
            if r.get("rows_match") and r.get("schema_match") and r.get("hash_match"):
                newest_green[n] = max(newest_green.get(n, 0), rnd)
    names = list(QUERIES)
    uncovered_tail = [n for n in names[50:] if n not in newest_green]
    assert not uncovered_tail, (
        f"queries past the 50-cap with no green driver row: {uncovered_tail} "
        "— move them into the first 50 entries of QUERIES"
    )
    stale_tail = [
        (n, newest_green[n]) for n in names[50:] if newest_green[n] < latest_round - 1
    ]
    assert not stale_tail, (
        f"tail queries whose newest green driver row is two or more rounds "
        f"older than round {latest_round}: {stale_tail} — rotate them into "
        "the first 50"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "subject", "predicate", "object"}
