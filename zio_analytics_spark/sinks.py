"""Sinks [EXT] — the reference has none (the caller consumes the ZStream,
e.g. ``foreach(putStrLn)``, /root/reference/src/test/scala/zio/analytics/
WordCountSpec.scala:24-25). Ours are thin ``df.write`` / ``writeStream``
passthroughs with scale-correct defaults.

Scale notes: always write partitioned parquet for fact-sized outputs
(``partition_by`` on a low-cardinality column prunes later scans); never
``collect()`` anything fact-sized — ``to_local`` exists for test/dim-sized
frames only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "write_parquet",
    "write_parquet_sorted",
    "to_local",
    "write_stream_parquet",
    "write_stream_foreach_batch",
]


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Batch parquet sink; ``partition_by`` enables partition pruning downstream."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_parquet_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    num_files: int | None = None,
) -> None:
    """Parquet sink laid out for data skipping on ``sort_cols``: range-
    partition across files, then sort within each file.

    Each file then covers a narrow, disjoint slice of the sort key, so
    parquet per-row-group min/max statistics let later range/point
    predicates skip whole files/row groups at the scan — the poor-man's
    Z-order, and the single highest-leverage layout decision for
    append-heavy fact tables at 100 TB. (Sorting within round-robin
    partitions alone is useless: every file still spans the full range.)
    """
    cols = [df[c] for c in sort_cols]
    ranged = df.repartitionByRange(num_files, *cols) if num_files else df.repartitionByRange(*cols)
    w = ranged.sortWithinPartitions(*sort_cols).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def to_local(df: DataFrame, limit: int | None = None):
    """Collect to driver memory — test/dimension-sized frames ONLY."""
    return (df.limit(limit) if limit is not None else df).collect()


def write_stream_foreach_batch(df: DataFrame, fn, checkpoint: str):
    """``foreachBatch`` sink: ``fn(batch_df, epoch_id)`` runs once per
    micro-batch with a *batch* DataFrame — the idiom for exactly-once writes
    to sinks without native streaming support (JDBC, MERGE targets).
    Idempotency across retries is ``fn``'s contract, keyed on ``epoch_id``.
    """
    return (
        df.writeStream.option("checkpointLocation", checkpoint).foreachBatch(fn).start()
    )


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
):
    """File sink with checkpointing — the durable streaming path (exactly-once
    per file-sink semantics); returns the StreamingQuery handle."""
    w = df.writeStream.outputMode(output_mode).option("checkpointLocation", checkpoint)
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.format("parquet").start(path)
