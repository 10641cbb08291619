"""SparkSession factory with scale-aware defaults, and the session memo
registry.

Local testing runs on ``local[N]``; the configuration below is written so the
same code lands on a multi-executor cluster unchanged: AQE handles runtime
partition coalescing and skew joins, shuffle partitions default to the core
count locally (override via ``spark.sql.shuffle.partitions`` on a cluster),
and Arrow is enabled for every pandas-UDF exchange.

Build-once artifacts (serving indexes, trained codebooks, rendered input
files, planner estimates) live in one registry: ``memo`` builds a value once
per (session, key) and ``release`` frees everything a session built.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "hybrid_recommendation_system_using_vector_db_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, drop the ``master`` call and submit with your
    cluster manager; every other setting is still appropriate.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # one shuffle partition per core locally; on a cluster AQE coalesces
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (applicationId, key) -> value; a fresh session never sees another's values
_MEMOS: dict[tuple, object] = {}


def _leaves(value) -> Iterator:
    """The elements of a memo value, nested tuples and lists walked."""
    if isinstance(value, (tuple, list)):
        for v in value:
            yield from _leaves(v)
    else:
        yield value


def _dropped(value) -> bool:
    """A persisted DataFrame in ``value`` lost its cache: after
    ``spark.catalog.clearCache()`` ``is_cached`` stays set while the
    storage level reads NONE, and every use would recompute the lineage."""
    return any(isinstance(p, DataFrame) and p.is_cached
               and p.storageLevel == StorageLevel.NONE
               for p in _leaves(value))


def _temp_root(path) -> str | None:
    """The entry directly under the system temp dir that holds ``path``."""
    if not isinstance(path, str) or not os.path.isabs(path):
        return None
    tmp = os.path.realpath(tempfile.gettempdir())
    rel = os.path.relpath(os.path.realpath(path), tmp)
    if rel == os.curdir or rel.startswith(os.pardir):
        return None
    return os.path.join(tmp, rel.split(os.sep)[0])


def _remove_temp_dirs(value) -> None:
    for p in _leaves(value):
        if (d := _temp_root(p)) is not None:
            shutil.rmtree(d, ignore_errors=True)


def _free(value) -> None:
    for p in _leaves(value):
        if isinstance(p, DataFrame) and p.is_cached:
            p.unpersist()
    _remove_temp_dirs(value)


def memo(spark: SparkSession, key: Hashable, build: Callable[[], object]):
    """Return ``build()``, built once per (session, ``key``).

    For pure functions of their inputs only — a hit skips recomputing an
    identical value, so results cannot change. A hit whose persisted
    DataFrame lost its cache is rebuilt. A builder that writes files makes
    its directory with ``tempfile.mkdtemp`` and returns a path inside it as
    (part of) the value, so ``release`` can remove it.
    """
    k = (spark.sparkContext.applicationId, key)
    if k in _MEMOS and _dropped(_MEMOS[k]):
        _free(_MEMOS.pop(k))
    if k not in _MEMOS:
        _MEMOS[k] = build()
    return _MEMOS[k]


def release(spark: SparkSession) -> None:
    """Drop every memo of this session: unpersist its persisted DataFrames
    (inside tuples and lists too) and remove the temp dirs its builders
    wrote. Locally checkpointed values are left to garbage collection."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMOS if k[0] == app]:
        _free(_MEMOS.pop(k))


@atexit.register
def _release_at_exit() -> None:
    """At interpreter exit, remove the temp dirs of every memo no
    ``release`` dropped (the driver contract never calls it). Nothing is
    unpersisted: the JVM may already be gone."""
    for value in _MEMOS.values():
        _remove_temp_dirs(value)
