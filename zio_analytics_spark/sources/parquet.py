"""Parquet scan source [EXT].

Thin passthrough over ``spark.read.parquet`` — Catalyst gives us column
pruning, predicate pushdown, and partition pruning for free, which is the
whole point of expressing scans declaratively (SURVEY.md §4.1).

What runs when a driver table is read: :func:`read_table` opens the one
parquet file's footer on the driver (:func:`footer_schema`, Spark's own
footer-to-schema converter) and hands the schema to the reader, so building
the DataFrame launches no Spark job; ``spark.read.parquet`` without a schema
would launch a schema-inference job per read. A directory path still goes
through inference (it may hold several files or partition columns).

At 100 TB the scan IS the query plan's foundation: never cache a fact table,
never infer schema per-file, and let ``spark.sql.files.maxPartitionBytes``
(default 128 MB) drive split sizing so a 1000-executor cluster gets even work.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["TABLES", "footer_schema", "read_parquet", "read_table"]

# The driver's star schema + stream/LLM tables (TESTDATA.md).
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

# Small dimension tables that should be broadcast in joins at any scale.
BROADCAST_TABLES = frozenset({"region", "nation"})


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Scan a parquet path; optional projection (pruned at the reader)."""
    df = spark.read.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


# Event-time columns whose parquet storage has varied across testdata
# generations: TIMESTAMP(NANOS) (arrives as long nanos under
# spark.sql.legacy.parquet.nanosAsLong=true; truncate to µs exactly like
# DuckDB does) or TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
# TIMESTAMP_NTZ; cast to session-local TIMESTAMP — identical instant under
# the required UTC session timezone). Normalizing here means every consumer
# sees one type: TIMESTAMP.
_EVENT_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Runtime-settable SQL confs this engine depends on. Callers may hand us a
# SparkSession built elsewhere (e.g. the verification driver's); these are
# correctness requirements, not preferences: without nanosAsLong the events
# table is unreadable, and a non-UTC session timezone shifts every timestamp
# relative to the UTC-naive DuckDB oracle.
_REQUIRED_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply required runtime-settable confs to a possibly-foreign session."""
    for k, v in _REQUIRED_RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def normalize_event_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP regardless of storage."""
    dtypes = dict(df.dtypes)
    for col in cols:
        if col not in dtypes:
            continue
        if dtypes[col] == "bigint":
            # nanosAsLong legacy path: long nanos → µs-truncated timestamp.
            # Integer division — float division loses precision on ~1e18 nanos.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtypes[col] == "timestamp_ntz":
            # µs-precision naive storage: same instant under UTC session tz.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of a parquet file from its footer, read on the driver with
    Spark's own converter (``ParquetFileFormat.readSchema``), so nanosAsLong
    and TIMESTAMP_NTZ follow the session conf exactly as inference would.
    Launches no job. Anything but a plain file (a directory, a missing
    path) goes through ``spark.read.parquet``'s inference and its errors."""
    jvm = spark.sparkContext._jvm
    jss = spark._jsparkSession
    hconf = jss.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    if not fs.isFile(hpath):
        return spark.read.parquet(path).schema
    pkg = jvm.org.apache.spark.sql.execution.datasources.parquet
    fmt = getattr(getattr(pkg, "ParquetFileFormat$"), "MODULE$")
    statuses = jvm.scala.jdk.javaapi.CollectionConverters.asScala(
        jvm.java.util.List.of(fs.getFileStatus(hpath))
    ).toSeq()
    footers = fmt.readParquetFootersInParallel(hconf, statuses, False)
    return StructType.fromJson(json.loads(fmt.readSchema(footers, jss).get().json()))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, e.g. ``read_table(spark, 'testdata/sf0.01', 'lineitem')``.

    The schema comes from the file's footer (:func:`footer_schema`), so the
    read itself launches no Spark job."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(footer_schema(spark, path)).parquet(path)
    return normalize_event_ts(df, _EVENT_TS_COLS.get(name, ()))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every driver table as a temp view → full SQL frontend
    (``spark.sql`` over the same scans; Catalyst produces identical plans
    for SQL and DataFrame formulations). The reference has no SQL surface
    (SURVEY.md §2.4) — this is [EXT] for free."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
