"""The reference's canonical example — windowed word count
(/root/reference/src/test/scala/zio/analytics/WordCountSpec.scala:9-25) —
run both as a batch DataStream plan and as a real Structured Streaming query.

    python examples/word_count.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from zio_analytics_spark import DataStream, get_spark, tumbling
from zio_analytics_spark.sources.parquet import read_table
from zio_analytics_spark.streaming import to_memory


def batch(spark, sf_dir: str):
    """The reference fixture, batch mode (fromLiterals → assignTimestamps →
    groupBy → foldWindow)."""
    rows = [(12, "quick"), (15, "quick"), (30, "brown"), (40, "brown")]
    out = (
        DataStream.from_literals(spark, rows, schema="ts_ms long, word string")
        .with_column("ts", F.timestamp_millis(F.col("ts_ms")))
        .assign_timestamps("ts")
        .group_by("word")
        .fold_window(tumbling("10 milliseconds"), n=F.count("*"))
    )
    print("— batch (reference fixture) —")
    out.to_df().orderBy("window_start", "word").show(truncate=False)


def streaming(spark, sf_dir: str):
    """The same plan over an unbounded source (events table driven to
    completion through a memory sink)."""
    from zio_analytics_spark.sources.streaming import stream_table

    ev = stream_table(spark, sf_dir, "events")
    agg = (
        DataStream(ev)
        .assign_timestamps("ts", "10 minutes")
        .group_by("event_type")
        .fold_window(tumbling("1 hour"), n=F.count("*"))
    )
    out = to_memory(agg.to_df(), "append", "wc_stream")
    print("— streaming (events, tumbling 1h, append mode) —")
    out.orderBy("window_start", "event_type").show(5, truncate=False)


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example_word_count")
    batch(spark, sf_dir)
    streaming(spark, sf_dir)
