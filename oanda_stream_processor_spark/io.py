"""Fixture loaders.

One parquet file per table under an sf dir (TESTDATA.md). Loaders are thin:
``spark.read.parquet`` keeps predicate pushdown / column pruning /
partition-split sizing entirely in Catalyst's hands — at 100 TB the same
call reads a partitioned parquet lake and prunes on the pushed filters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import memo
from .schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# DataFrame memo keyed by (session app id, dir, table). A DataFrame is an
# immutable plan, so handing the same one to every query is safe; what
# this saves is the per-call file listing + parquet footer/schema read,
# which is most of Spark's fixed per-query floor on small inputs
# (measured 2x on sub-0.3 s queries). Fixture dirs are immutable; a
# mutated lake would want this memo invalidated on write.
_TABLES = memo.register("tables")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {FIXTURE_TABLES}")
    # Pin the session to UTC on every load: DuckDB oracle timestamps are
    # naive UTC, and a non-UTC driver session would shift every rendered
    # TimestampType value (events.ts is the only tz-sensitive column; the
    # TPC-H dates read as TIMESTAMP_NTZ and are immune). Idempotent,
    # runtime-settable, and required for oracle parity regardless of how
    # the caller built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    return _TABLES.get_or_build(key, lambda: _read_table(spark, sf_dir, name))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped in two fixture encodings: parquet INT64
        # TIMESTAMP(NANOS) (read as a raw long under nanosAsLong, then
        # truncated ns→μs with integer `div` — double division would lose
        # precision above 2^53 ns) and, currently, plain timestamp[us]
        # (read as TIMESTAMP_NTZ, cast to the session-UTC TimestampType).
        # Sniff the dtype so either encoding loads; mirrors DuckDB's
        # TIMESTAMP_NS→TIMESTAMP cast and the documented ns→μs policy for
        # the reference's ns-precision tick times (SURVEY.md §7 hard-part 3).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = raw.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return raw
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
