"""Run a bounded stream to completion — the reference's one runtime
(``Local.scala`` interprets every ``DataStream`` until it ends;
``WordCountSpec`` just calls ``.run``).

Every bounded query in this package goes through :func:`drive`: start,
``processAllAvailable()``, ``stop()``. No session conf is touched, so the
query runs with the session's shuffle partitions (local mode: one state
store per core per trigger, see :mod:`zio_analytics_spark.session`).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

__all__ = ["drive", "to_memory"]


def drive(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process everything available, and stop the query
    (also when a batch fails, whose error propagates). Returns the stopped
    query; its ``recentProgress`` stays readable."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def to_memory(out: DataFrame, mode: str, prefix: str) -> DataFrame:
    """Drive ``out`` into a memory sink named ``{prefix}_{uuid8}`` in output
    ``mode`` (append, complete or update) and return the materialized table.

    Complete mode emits every window, so a bounded stream equals its batch
    aggregate; append mode holds back windows the watermark has not closed.
    A file source without ``maxFilesPerTrigger`` delivers a bounded input
    in one trigger, so append and update output is deterministic."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    drive(out.writeStream.outputMode(mode).format("memory").queryName(name))
    return out.sparkSession.table(name)
