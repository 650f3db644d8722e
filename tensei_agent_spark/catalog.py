"""Test-table catalog: load the driver-generated parquet tables.

The driver materializes a TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings``
(vector corpus) at /root/testdata/sf{0.001,0.01,0.1} — see TESTDATA.md.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-join these against facts.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

# Parquet SCHEMA cache (the driver should do almost no work per
# query): a bare ``spark.read.parquet(path)`` runs a 1-task
# schema-inference job (footer read) on EVERY call, and the engine
# builds each table fresh per query — ~29 bench queries × (warm +
# best-of-3) pay that scheduling round-trip again and again for a
# schema that never changes within a run. Cache the inferred schema
# keyed on (absolute path, mtime_ns, size): a repeat load passes the
# schema explicitly and skips the inference job entirely; any rewrite
# of the file invalidates the key. METADATA only — no rows, no query
# results, nothing derived from the data beyond its StructType — so
# every query still computes from the parquet inputs.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Every query loads tables through here, including under a caller-
    # provided SparkSession (the driver contract passes its own). Pin
    # the session timezone defensively: date/window functions over the
    # instant-typed events.ts column must evaluate in UTC to match the
    # DuckDB oracle, whatever the host session was built with.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Some driver builds write events.ts as TIMESTAMP(NANOS) parquet,
        # which Spark rejects; others write TIMESTAMP(MICROS), which it
        # reads natively. Handle both: with nanosAsLong the nanos variant
        # surfaces as LongType and we truncate to micros (exactly what
        # DuckDB does internally, so oracle comparisons stay exact);
        # the micros variant arrives as a timestamp already.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Session TZ is pinned to UTC, so NTZ→LTZ keeps the same wall
            # clock AND the same instant; downstream unix_micros/window
            # code (and the DuckDB oracle) see identical values.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
