"""Portable deterministic hashing primitives.

The engine needs hashes that are (a) stable across runs/partitionings,
(b) reproducible in the DuckDB oracle. Spark's ``hash()``/``xxhash64()``
are engine-specific, so everything here is built on ``md5`` hex strings,
which both engines produce identically.

- seeded ordering key (sampling): ``md5('<seed>:' || key)``
- MinHash: ``min over tokens of md5('<i>:' || token)`` — the lexicographic
  min of a uniformly-distributed hex string is a valid min-hash
- SimHash: per-token bits = top bit of each md5 hex nibble
- Random-hyperplane LSH for embeddings: fixed seeded hyperplanes embedded
  as literals (generated once, below) so oracle SQL can embed the same
  constants.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F



def seeded_key(key: Column, seed: int = 42) -> Column:
    """Deterministic pseudo-random ordering key (uniform via md5)."""
    return F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))


def hex8_u32(hexstr: Column) -> Column:
    """u32 value of the first 8 chars of an md5-style hex string — the
    single definition every uniform-hash consumer (weighted sampling,
    fraction sampling, KMV) shares; the oracle twin is
    ``__spark_entry__._hex8_u32``. Changing the mapping here (and there)
    re-seeds all of them together instead of silently diverging."""
    return F.conv(F.substring(hexstr, 1, 8), 16, 10).cast("bigint")


def uniform01(key: Column, seed: int = 42) -> Column:
    """Deterministic uniform (0, 1] hash of a key: (hex8_u32 + 1) / 2^32."""
    return (hex8_u32(seeded_key(key, seed)) + F.lit(1.0)) / F.lit(4294967296.0)


def minhash(toks: Column, i: int) -> Column:
    """i-th MinHash of a token array (hex-string min). Null if no tokens."""
    return F.array_min(F.transform(toks, lambda t: F.md5(F.concat(F.lit(f"{i}:"), t))))


def hex_nibble_value(c: Column) -> Column:
    """Value 0-15 of a single lowercase hex char (portable: ascii math)."""
    a = F.ascii(c)
    return F.when(a <= 57, a - 48).otherwise(a - 87)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH planes: fixed seed so both engines share constants.
# 64 planes — enough for 8 independent 8-bit tables (multi-table LSH
# OR-amplifies recall: a pair is a candidate if ANY table buckets it
# together). Callers slice via (n_bits, offset).
# ---------------------------------------------------------------------------
_LSH_SEED = 42
_LSH_DIM = 64
_LSH_PLANES = 64
_rs = np.random.RandomState(_LSH_SEED)
HYPERPLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rs.randn(_LSH_DIM)] for _ in range(_LSH_PLANES)
]


def hyperplane_bits(vec_sql: str, n_bits: int = 8, offset: int = 0) -> Column:
    """LSH bucket id (string of 0/1) from the sign of plane·v.

    ``vec_sql`` is a Spark SQL fragment (e.g. a column name) evaluating to
    array<double> of length 64. Sign tie (dot == 0) is pinned to bit '1'
    (>= 0 → 1) for determinism. ``offset`` selects the plane slice — table
    t uses offset = t · n_bits.

    Built as ONE ``F.expr`` string, not per-literal Column objects: n_bits
    planes × 64 components as ``F.lit`` calls cost thousands of py4j
    round-trips (~5s of driver time for 8 tables), the single parsed
    string costs one. The dot stays the HOF fold — a per-row (not
    per-pair) expression; unrolling it blows up Catalyst analysis time
    far beyond any execution savings.
    """
    parts = []
    for p in HYPERPLANES[offset:offset + n_bits]:
        # CAST('<repr>' AS DOUBLE): the exact decimal strings the DuckDB
        # oracle embeds — both engines parse them correctly-rounded, so the
        # plane constants are bitwise-identical across engines.
        arr = "array(" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in p) + ")"
        dot = f"aggregate(zip_with({arr}, {vec_sql}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        parts.append(f"(CASE WHEN {dot} >= 0D THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(parts) + ")")


def as_double_sql(vec_col: str) -> str:
    """SQL fragment widening an array<float> column to array<double>."""
    return f"transform({vec_col}, x -> CAST(x AS DOUBLE))"


def hyperplane_sql_bits(vec_expr: str, n_bits: int = 8, offset: int = 0) -> str:
    """DuckDB SQL fragment computing the same LSH bucket for oracle parity.

    ``vec_expr`` must be a DOUBLE[] SQL expression.
    """
    parts = []
    for p in HYPERPLANES[offset:offset + n_bits]:
        lits = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        parts.append(
            f"(CASE WHEN list_inner_product({lits}, {vec_expr}) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)
