"""map_rows: the one per-row Arrow stage behind the codec, WARC, charset and
payload-synthesis operators — fan-out per row, frame shape, NULLs, errors,
and batch/stream equivalence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from zio_analytics_spark.operators._rows import map_rows
from zio_analytics_spark.streaming import to_memory
from zio_analytics_spark.tmpdirs import scratch_dir


def _ids(spark, n: int, parts: int):
    return spark.range(n, numPartitions=parts).select(F.col("id").alias("i"))


def test_rows_per_input_zero_one_many(spark):
    """``i % 3`` output rows per input: 0, 1 and 3 (not 2) rows per row."""

    def fan(i):
        return [(i, k, f"{i}:{k}") for k in range((0, 1, 3)[i % 3])]

    out = map_rows(_ids(spark, 9, 2), fan, "i long, k int, tag string")
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        (i, k, f"{i}:{k}") for i in range(9) for k in range((0, 1, 3)[i % 3])
    )
    assert got == want
    assert len(got) == 3 * (0 + 1 + 3)


def test_empty_partitions_and_batches_keep_schema(spark):
    """Empty input partitions and batches whose rows all yield nothing give
    empty frames carrying the declared schema, not a task failure."""
    schema = "i long, half double, label string"
    out = map_rows(
        _ids(spark, 2, 4),  # two of the four partitions are empty
        lambda i: [(i, i / 2, "odd")] if i % 2 else [],
        schema,
    )
    assert out.schema == StructType.fromDDL(schema)
    assert [tuple(r) for r in out.collect()] == [(1, 0.5, "odd")]

    none = map_rows(_ids(spark, 6, 2), lambda i: [], schema)
    assert none.schema == StructType.fromDDL(schema)
    assert none.collect() == []


def test_none_in_numeric_column_is_null(spark):
    """``None`` in int/double columns becomes SQL NULL (pandas NaN on the way)."""
    out = map_rows(
        _ids(spark, 4, 1),
        lambda i: [(i, None if i % 2 else i * 10, None if i % 2 else 0.5)],
        "i long, n int, x double",
    )
    got = {r.i: (r.n, r.x) for r in out.collect()}
    assert got == {0: (0, 0.5), 1: (None, None), 2: (20, 0.5), 3: (None, None)}


def test_exception_in_fn_reaches_caller(spark):
    def boom(i):
        if i == 3:
            raise ValueError("map_rows-test-boom")
        return [(i,)]

    with pytest.raises(Exception, match="map_rows-test-boom"):
        map_rows(_ids(spark, 5, 1), boom, "i long").collect()


def test_stream_equals_batch(spark):
    """The same ``map_rows`` stage over a two-file bounded stream (driven to
    completion through ``to_memory``) equals the batch result."""
    src = scratch_dir(prefix="rows_src_")
    for k, lo in enumerate((0, 5)):
        tmp = scratch_dir(prefix="rows_stage_")
        _ids(spark, 5, 1).select((F.col("i") + lo).alias("i")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        os.replace(os.path.join(tmp, part), os.path.join(src, f"b{k}.parquet"))

    def fan(i):
        return [(i, k, i * k) for k in range(i % 3)]

    schema = "i long, k int, ik long"
    stream = spark.readStream.schema("i long").option("maxFilesPerTrigger", "1").parquet(src)
    got = to_memory(map_rows(stream, fan, schema), "append", "rows_stream").collect()
    want = map_rows(spark.read.parquet(src), fan, schema).collect()
    assert sorted(got) == sorted(want)
    assert len(want) == sum(i % 3 for i in range(10))
