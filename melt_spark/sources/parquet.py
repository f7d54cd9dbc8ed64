"""Parquet-backed source — the test/bench implementation of the reference's
"table scan" (SURVEY.md §2.1/S4-S5). JDBC and Kafka sit behind the same thin
surface (see jdbc.py / kafka.py); operators only ever see DataFrames, so
correctness is checked on the driver's deterministic parquet fixtures.

Scale note: spark.read.parquet gives splittable columnar scans with filter
pushdown and column pruning for free; nothing here materializes data in the
driver.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ns_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) — Spark refuses them
    natively; with spark.sql.legacy.parquet.nanosAsLong they arrive as long
    nanos and we truncate to microsecond timestamps (matching DuckDB's
    ns→µs truncation). Footer-only read: costs one small file open."""
    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [f.name for f in schema
            if str(f.type).startswith("timestamp[ns")]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Resolution/zone-agnostic timestamp normalization: any TIMESTAMP_NTZ
    column (parquet µs/ms with isAdjustedToUTC=false, read before the
    inferTimestampNTZ conf applies) becomes session-TZ TIMESTAMP. The session
    tz is pinned UTC (session.py), so the instant and the canonical ISO
    rendering are both preserved. LTZ columns pass through untouched."""
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Needs the session confs get_spark and
    tune_session set (nanosAsLong, inferTimestampNTZ off); normalize_timestamps
    still fixes NTZ columns if the latter is missing."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c in _ns_timestamp_cols(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register the fixture tables as temp views so spark.sql() queries can
    name them exactly like the DuckDB oracle does."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)
