"""Streaming windowed aggregation — the reference's ``FoldWindow`` semantics
(/root/reference/src/main/scala/zio/analytics/Local.scala:195-228) on real
unbounded frames:

- window assignment incl. sliding duplication (Local.scala:200-206)
  → ``F.window(ts, size, step)``
- incremental per-(key, window) state (Local.scala:214-226)
  → streaming state store partial aggregation
- emit when watermark passes window end (Local.scala:221-225)
  → append output mode
- drop late data (Local.scala:215-219)
  → ``withWatermark`` + append mode

Scale: streaming state lives in the state store (RocksDB provider on a real
cluster); watermark bounds state size, and the key space is hash-partitioned
across executors — the reference's fiber-per-key queue
(Local.scala:71-110) maps to exactly this.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zio_analytics_spark.windows import WindowAssigner

__all__ = ["windowed_counts"]


def windowed_counts(
    stream: DataFrame,
    assigner: WindowAssigner,
    ts_col: str,
    key_cols: list[str],
    watermark_delay: str,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Watermarked windowed aggregation over a streaming frame (append-ready)."""
    aggs = aggs or {"n": F.count("*")}
    wm = stream.withWatermark(ts_col, watermark_delay)
    out = wm.groupBy(assigner.assign(F.col(ts_col)).alias("window"), *key_cols).agg(
        *[a.alias(name) for name, a in aggs.items()]
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in out.columns if c != "window"],
    )

