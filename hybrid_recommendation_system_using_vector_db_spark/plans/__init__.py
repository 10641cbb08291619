"""Physical-plan contracts: assert the plan Catalyst actually produces.

An operator that is correct but plans badly (missed pushdown, accidental
sort-merge join, unpruned scan) regresses silently at scale. These helpers
turn `.explain("formatted")` into testable assertions so the intended plan
shape is pinned by the test suite:

- filters reach the parquet scan (``PushedFilters``)
- scans read only the referenced columns (``ReadSchema``)
- small dimension joins broadcast (``BroadcastHashJoin`` /
  ``BroadcastNestedLoopJoin``)
- chosen join strategies stick (``ShuffledHashJoin`` for the edge build)
- no Python row-at-a-time UDFs sneak into JVM-only plans
  (``BatchEvalPython``)
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (captures ``df.explain``)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def assert_plan(df: DataFrame, contains: tuple[str, ...] = (),
                not_contains: tuple[str, ...] = ()) -> None:
    """Assert plan features; raises with the full plan on failure."""
    plan = formatted_plan(df)
    for n in contains:
        if n not in plan:
            raise AssertionError(f"plan missing {n!r}:\n{plan}")
    for n in not_contains:
        if n in plan:
            raise AssertionError(f"plan unexpectedly contains {n!r}:\n{plan}")


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters line found in the scan nodes."""
    return [
        line.strip() for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    ]


def read_schemas(df: DataFrame) -> list[str]:
    """Every ReadSchema line (column pruning evidence) from the scans."""
    return [
        line.strip() for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    ]
