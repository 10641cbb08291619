"""The round driver shared by the iterative graph and dedup operators.

Every iterative operator (the pagerank/PPR/LPA power loops, the frontier
relaxations, the k-core/k-truss peels and both connected-components
loops) runs its rounds through :func:`iterate`, which owns the round
lifecycle: how a round is materialized, when lineage is cut, the stop
test, and the non-convergence error. Static per-round join tables are
held by :func:`persisted` for exactly the duration of the call.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def persisted(*dfs: DataFrame):
    """Persist static per-round join tables for the body of the block and
    unpersist them on exit, error included. An ``InMemoryTableScan`` keeps
    the table's build partitioning, so a round joining on that key does
    not re-exchange it (a ``localCheckpoint`` scan reports
    ``UnknownPartitioning``). The block must materialize its result
    before it exits: a lazy result would recompute the tables."""
    try:
        for df in dfs:
            df.persist()
        yield
    finally:
        for df in dfs:
            df.unpersist()


def iterate(state: DataFrame, step, max_iter: int, *, done=None,
            count=None, merge=None, cut: int = 3,
            op: str | None = None) -> DataFrame:
    """Run up to ``max_iter`` rounds of ``table = step(state, last, r)``.

    ``last`` is the previous round's table (the start in round 1); it is
    ``state`` itself unless ``merge`` is given.

    Without a stop test (``done=None``) the rounds chain lazily: each
    table feeds only the next round, so one job runs them all. The
    driver cuts lineage with an eager ``localCheckpoint`` every ``cut``
    rounds and after the last, so the result is materialized.

    With ``done(n, n_prev, table, last)``, the start is materialized by
    an eager ``localCheckpoint``, and every round's table gets a
    non-eager ``localCheckpoint`` and one ``count`` (of ``count(table)``
    when given), which both materializes the round and feeds the stop
    test: ``n`` is this round's count, ``n_prev`` the previous round's
    (``None`` in round 1 — the start is not counted, so a test on an
    unchanged count first fires in round 2). The first round whose
    ``done`` is true ends the loop and is its result.

    ``merge(state, table)`` folds each round's table into a lazily grown
    state, which is then the result (the frontier relaxations merge only
    the improved rows, and stop on an empty round without merging it);
    that state is cut every ``cut`` rounds but the last.

    With ``op``, a stop test that is still false after ``max_iter``
    rounds raises ``RuntimeError``; without it the loop returns its state
    after ``max_iter`` rounds, the fixed-round contract the unrolled SQL
    oracles mirror.
    """
    n = None
    if done is not None:
        state = state.localCheckpoint(eager=True)
    last = state
    for r in range(1, max_iter + 1):
        table = step(state, last, r)
        if done is None:
            if r % cut == 0 or r == max_iter:
                table = table.localCheckpoint(eager=True)
            state = last = table
            continue
        table = table.localCheckpoint(eager=False)
        n, n_prev = (count(table) if count else table).count(), n
        if done(n, n_prev, table, last):
            return state if merge else table
        if merge is None:
            state = table
        else:
            state = merge(state, table)
            if r % cut == 0 and r < max_iter:
                state = state.localCheckpoint(eager=True)
        last = table
    if op is not None:
        raise RuntimeError(
            f"{op} did not converge in max_iter={max_iter} rounds (the last "
            f"round still counted {n} rows); raise max_iter")
    return state


def no_rows(n: int, *_) -> bool:
    """Stop test: the round's counted rows are empty (no improved
    frontier row, no changed label). For a monotone relaxation an empty
    round is the fixpoint, so every later round would be empty too."""
    return n == 0


def same_count(n: int, n_prev: int | None, *_) -> bool:
    """Stop test of a peel: the round dropped nothing, so it reproduced
    the round before (peels only ever remove rows)."""
    return n == n_prev
