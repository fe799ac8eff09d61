"""Per-row Arrow stage: the one ``mapInPandas`` loop behind every operator
whose Python work is a function of a single input row (the codec decoders,
the WARC record walk, charset transcoding, the catalog's payload synthesis).

The reference runs every operator as one case of a single interpreter loop
(Local.scala:114-229); here the loop over Arrow batches, the per-row call
and the frame assembly live once, and each stage supplies only ``fn``.
Whole-batch numpy lanes (unigram, wordpiece, dedup, sketch, pq,
clustering) work on the batch itself and do not use this helper.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

__all__ = ["map_rows"]


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: StructType | str,
) -> DataFrame:
    """Apply ``fn(*row)`` to every row of ``df``; each call yields zero or
    more output tuples in the field order of ``schema``.

    Runs as one ``mapInPandas`` stage, one pandas frame per Arrow batch.
    The frame is built column by column from Python lists keyed by the
    schema's field names, so pandas infers dtypes exactly as a
    hand-written dict-of-lists loop would (``None`` in a numeric column
    becomes NaN and then SQL NULL; an empty batch still carries every
    named column). Input values arrive as Python scalars (a numeric
    column holding NULLs arrives as floats with NaN). Exceptions raised by
    ``fn`` propagate and fail the task; a stage that quarantines bad
    rows catches inside its own ``fn``."""
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = st.names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for values in pdf.itertuples(index=False, name=None)
                for out in fn(*values)
            ]
            cols = zip(*rows, strict=True) if rows else [()] * len(names)
            yield pd.DataFrame(dict(zip(names, map(list, cols), strict=True)))

    return df.mapInPandas(run, schema)
