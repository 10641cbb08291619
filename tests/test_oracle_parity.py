"""t2-style correctness: every queries() entry with an oracle must match
DuckDB on row count, schema, and values (order-insensitive)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from .oracle_util import compare, duckdb_con  # noqa: E402

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()
EXTRA_ORACLES = entrymod.extra_oracle_sql()
EXTRA_QUERIES = entrymod.extra_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_parity(name, spark, sf_dir, con):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    df = QUERIES[name](spark, sf_dir)
    problems = compare(df, con, ORACLES[name], name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", sorted(EXTRA_ORACLES.keys()))
def test_extra_oracle_parity(name, spark, sf_dir, con):
    """The pytest-only surface: entries trimmed from the driver's 50-slot
    correctness budget stay oracle-verified here (VERDICT r4 #2)."""
    assert name in EXTRA_QUERIES, f"extra oracle {name} has no extra_queries() entry"
    df = EXTRA_QUERIES[name](spark, sf_dir)
    problems = compare(df, con, EXTRA_ORACLES[name], name)
    assert not problems, "\n".join(problems)


# driver entries deliberately shipped WITHOUT an oracle (the driver then
# records its weaker rows-only check): genuinely non-SQL-expressible ops
# only, each pinned by an independent python-reference test instead.
# r10: empty for the first time — k_core got a fixed-unroll CTE oracle
# (idempotent past its fixpoint, the _pagerank_sql pattern).
ROWS_ONLY_DRIVER: set = set()


def test_driver_surface_within_budget():
    """The driver checks at most 50 queries() entries per round; more than
    50 silently rotates entries out of the checked window (VERDICT r4)."""
    assert len(QUERIES) <= 50
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY_DRIVER, \
        "every driver entry needs a same-named oracle (or a documented rows-only slot)"
    assert not (set(QUERIES) & set(EXTRA_QUERIES)), "a key must live in exactly one surface"


def test_bench_stdout_trim_keeps_every_driver_key():
    """bench.py's stdout line must fit the driver's 2000-char tail and
    never drop a driver-checked key: extras-only keys go first, fastest
    first — even when every driver entry is faster than every extra."""
    import json

    import bench

    driver = {f"driver_entry_{i:02d}" for i in range(50)}
    timings = {name: 0.01 * (i + 1) for i, name in enumerate(sorted(driver))}
    timings.update({f"extra_entry_{i:03d}": 1.0 + 0.1 * i for i in range(173)})
    headline = {"metric": "headline_total_time", "value": 123.456,
                "unit": "sec", "queries": timings, "sf": 0.1,
                "contended": False, "suspects": [], "canary_ms_min": 812.3,
                "canary_spread": 1.04, "steal_max": 0.002}
    line = bench.stdout_line(headline, timings, driver)
    assert len(line) <= bench._LINE_BUDGET
    got = json.loads(("x" * 5000 + "\n" + line)[-2000:].splitlines()[-1])
    assert driver <= set(got["queries"])
    assert got["queries_omitted"] == len(timings) - len(got["queries"]) > 0
    dropped = set(timings) - set(got["queries"])
    assert max(timings[n] for n in dropped) <= min(
        timings[n] for n in set(got["queries"]) - driver)


def test_parity_doc_counts_match_live_surface():
    """PARITY.md's SURFACE-COUNTS line must equal the live surface —
    doc drift on the headline coverage numbers fails CI (VERDICT r12
    next #7). Regenerate the line when entries are added/rotated."""
    import pathlib
    import re

    text = pathlib.Path(__file__).parent.parent.joinpath("PARITY.md") \
        .read_text()
    m = re.search(
        r"SURFACE-COUNTS: driver=(\d+) extras=(\d+) total=(\d+) "
        r"oracle_checked=(\d+) rows_only=(\d+)", text)
    assert m, "PARITY.md is missing its SURFACE-COUNTS line"
    driver, extras, total, oracled, rows_only = map(int, m.groups())
    assert driver == len(QUERIES)
    assert extras == len(EXTRA_QUERIES)
    assert total == len(QUERIES) + len(EXTRA_QUERIES)
    assert oracled == len(ORACLES) + len(EXTRA_ORACLES)
    assert rows_only == total - oracled


def test_all_queries_run(spark, sf_dir):
    """Every queries() entry (incl. rows-only ones) executes and has a schema."""
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(1).collect()


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    assert out.count() >= 0
