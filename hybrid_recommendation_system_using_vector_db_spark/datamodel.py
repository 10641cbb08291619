"""Data model: table loaders + canonical schemas.

The engine's product catalog schema mirrors the reference's implicit record
shape (``Hybrid_Recom_vecdb.py:44-53``): asin/title/group/categories/similar.
The driver-provided test tables (TPC-H-ish + documents/embeddings/events,
see TESTDATA.md) back the generic-operator correctness checks; the mapping of
the recommender domain onto them is:

- ``part``        ≈ product catalog (p_partkey = item id, p_name = title)
- ``lineitem``    → co-purchase graph: parts appearing in the same order are
                    "bought together" (ref builds this from the ``similar``
                    field, :133-141)
- ``embeddings``  ≈ the vector collection (vec_id keyed to p_partkey /
                    doc_id; 64-dim float vectors, ref used 384-dim MiniLM)
- ``documents``   ≈ the synthesized doc-text corpus (ref :124-132)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Catalog schema for amazon-meta ingest (SURVEY §1.2; ref :44-53)
PRODUCTS_SCHEMA = T.StructType([
    T.StructField("asin", T.StringType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("group", T.StringType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("similar", T.ArrayType(T.StringType()), True),
])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table. Parquet scan → full predicate pushdown
    and column pruning apply to everything built on top.

    ``events.parquet`` has been written with different physical timestamp
    encodings across testdata generations — TIMESTAMP(NANOS) (readable
    only as long) and µs without isAdjustedToUTC (loads as TIMESTAMP_NTZ
    in Spark 4, which no numeric cast accepts). Normalize both to a plain
    session-tz TIMESTAMP here so every downstream query sees one type;
    the session tz is pinned UTC, so the instant is unchanged.

    SIDE EFFECT (ADVICE r4): loading ``events`` sets
    ``spark.sql.session.timeZone=UTC`` (and the nanos-as-long legacy flag)
    for the whole session — any later wall-time query in a non-UTC
    session sees UTC. This harness pins UTC everywhere so the flip is a
    no-op here; library callers who need a different session tz should
    restore it after the load or normalize ``ts`` themselves.
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ wall times in the testdata are UTC instants; pin the
        # session tz so the NTZ→TIMESTAMP cast below (and any epoch
        # extraction downstream) is correct under a vanilla driver session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)
