"""Unbounded sources [EXT] for Structured Streaming paths.

The reference never had a real unbounded source (its tests run bounded
literal streams, /root/reference/src/test/scala/zio/analytics/WordCountSpec.scala:10),
but its semantics contract — event time + watermarks + windows — is a
streaming one, so we expose real ``readStream`` sources.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["stream_parquet", "stream_table"]


def stream_parquet(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """File-stream over a parquet directory (schema must be declared for streams).

    Locally this lets a bounded parquet directory drive a streaming query to
    completion via ``streaming.drive``; on a cluster the same plan tails
    an arriving-files directory. A single-file path works too (the file
    source itself only accepts directories, so it becomes parent +
    ``pathGlobFilter``).
    """
    reader = spark.readStream.schema(schema)
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Bounded file-stream over a driver table, normalized like
    ``read_table``: the declared schema is read from the parquet footer on
    the driver (``footer_schema``, no Spark job), so the stream works with
    either event-time storage the driver has generated (long nanos or µs
    TIMESTAMP_NTZ), and the same ts normalization as the batch reader is
    applied on top."""
    from zio_analytics_spark.sources.parquet import (
        _EVENT_TS_COLS,
        ensure_session_confs,
        footer_schema,
        normalize_event_ts,
    )

    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return normalize_event_ts(
        stream_parquet(spark, path, footer_schema(spark, path)),
        _EVENT_TS_COLS.get(name, ()),
    )
