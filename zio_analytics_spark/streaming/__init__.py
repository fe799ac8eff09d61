"""Structured Streaming layer.

The reference's runtime is a streaming interpreter with in-band watermarks
(/root/reference/src/main/scala/zio/analytics/Local.scala:54-110); Spark's
incremental execution replaces all of it. These helpers run the *same*
translation layer (DataStream methods) over ``readStream`` frames.
"""

from zio_analytics_spark.streaming.drive import drive, to_memory
from zio_analytics_spark.streaming.joins import interval_join
from zio_analytics_spark.streaming.stateful import map_accumulate_stream

__all__ = ["drive", "interval_join", "map_accumulate_stream", "to_memory"]
