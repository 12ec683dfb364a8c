"""Fixture catalog: parquet tables → DataFrames + temp views.

The reference's 'catalog' is a compiled-in schema of malloc'd uint32
columns (``q4112.h:13-60``, ``q4112_main.c:74-87``). Here the catalog
is the parquet star schema under ``/root/testdata/sf*/`` (FIXTURES.md
§B); Spark's vectorized parquet reader is the columnar scan
(SURVEY.md §2.1 #1), with column pruning and predicate pushdown at the
scan — the two optimizations the reference gets trivially by only ever
materializing the columns it needs.

The reference never resolves a schema at run time; a raw parquet path
does, with one Spark inference job per ``spark.read.parquet`` call.
That job was measured before every query's action, once per table
reference (tpch_q5 started 6 of them, about 50 ms each on a 4-vCPU
host), so :func:`schema` infers a table's schema once per file version
and session confs, and :func:`table` hands it to ``spark.read.schema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .plans.stats import parquet_table_key

#: All driver-provided fixture tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Session confs that change what parquet schema inference returns.
#: They are part of the memo key: a schema inferred under one
#: session's values must not be reused under another's.
SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: (path, SCHEMA_CONFS values) -> (parquet_table_key, schema). A
#: rewrite changes the table key and replaces the entry.
_SCHEMAS: dict[tuple, tuple[str, StructType]] = {}


def schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema of ``path``, inferred once per file version
    (:func:`plans.stats.parquet_table_key`: per-file size and mtime)
    and session confs (:data:`SCHEMA_CONFS`); later calls start no
    Spark job. Process-local: one inference costs about 50 ms, so
    persisting it would buy nothing measurable."""
    if not os.path.exists(path):
        # Missing or not a local path: infer on every call, so a
        # missing path raises the reader's own AnalysisException.
        return spark.read.parquet(path).schema
    key = (path, tuple(spark.conf.get(k) for k in SCHEMA_CONFS))
    version = parquet_table_key(path)
    hit = _SCHEMAS.get(key)
    if hit is None or hit[0] != version:
        hit = _SCHEMAS[key] = (version, spark.read.parquet(path).schema)
    return hit[1]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as a DataFrame (columnar vectorized scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.schema(schema(spark, path)).parquet(path)
    if name == "events":
        # events.ts has shipped at two parquet resolutions across
        # fixture generations: TIMESTAMP(NANOS,false), which Spark's
        # reader surfaces as INT64 nanos under
        # spark.sql.legacy.parquet.nanosAsLong (RUNTIME_CONFS,
        # session.py — applied uniformly by configure_session, never as
        # a read side effect), and TIMESTAMP(MICROS), which loads as a
        # timestamp directly (NTZ when not UTC-adjusted). Normalize
        # both to session-zone TIMESTAMP at µs precision. ts DIV 1000
        # truncates toward zero, which equals DuckDB's TIMESTAMP_NS
        # floor-truncation for non-negative epochs only (pre-1970
        # nanos would differ by 1 µs); the fixture domain is
        # Jan-2024+, so the equivalence holds here. Session tz is
        # pinned to UTC, so the NTZ→TZ cast is value-preserving.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load every fixture table; optionally register temp views.

    Views let the SQL entry point (``spark.sql``) address the same
    catalog as the DataFrame API — the two public query surfaces of
    the engine (SURVEY.md §3.5).
    """
    frames: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        frames[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return frames
