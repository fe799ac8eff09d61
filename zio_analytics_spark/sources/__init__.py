"""Sources: bounded (parquet, literals) and unbounded (file streams, lake CDF,
Python DataSource streaming readers).

The reference's only source is ``fromLiterals``
(/root/reference/src/main/scala/zio/analytics/DataStream.scala:87-88); everything
else here is [EXT] per SURVEY.md §2.4.
"""

from zio_analytics_spark.sources.literals import from_literals
from zio_analytics_spark.sources.parquet import TABLES, read_parquet, read_table
from zio_analytics_spark.sources.streaming import stream_parquet

__all__ = [
    "TABLES",
    "from_literals",
    "read_parquet",
    "read_table",
    "stream_parquet",
]
