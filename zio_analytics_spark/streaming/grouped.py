"""Streaming ``fold_window_group`` — the reference ``FoldWindow``'s general
``z``/``f`` contract (/root/reference/src/main/scala/zio/analytics/
DataStream.scala:51-56) on the STREAMING runtime, for assigners whose fold
native streaming aggregates cannot express.

Native streaming windowed aggs (``DataStream.fold_window``) cover incremental
folds with O(1) state per (key, window). The GENERAL fold — arbitrary
Python over the whole group — needs the group materialized, exactly as the
reference's ``Fold`` does (Local.scala:170-174); here the buffer lives in
the streaming STATE STORE via ``applyInPandasWithState``:

- tumbling/sliding: rows are labeled with their covering window(s) first
  (the same pmod/explode arithmetic as the batch path, proven equal to
  ``F.window`` in test_windows), then state is keyed per (key, window) and
  buffers that group's rows.
- session: window extent is itself data-dependent, so state is keyed per
  key and the gaps-and-islands merge runs INSIDE the state function; rows
  of CLOSED sessions are dropped from state as they are emitted (bounded
  state), only the trailing open session's rows are retained.

Emission contract: each trigger emits the fold of everything seen so far
for every group it touched (update-style). Under single-trigger delivery
of a bounded source — the driver-entry shape, one parquet file = one
micro-batch — every group fires exactly once and the output equals the
batch ``fold_window_group`` answer (asserted in tests). Under
multi-trigger delivery a consumer keeps the LAST emission per
(key, window_start); an eventually-correct changelog, the standard shape
for non-incremental folds on streams.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from zio_analytics_spark.datastream import _interval_to_micros
from zio_analytics_spark.windows import WindowAssigner

__all__ = ["fold_window_group_stream", "fold_session_group_stream"]


def _buffered(state: GroupState, new: pd.DataFrame) -> pd.DataFrame:
    """State = the group's rows so far, pickled (one binary cell)."""
    if state.exists:
        old = pickle.loads(state.get[0])
        return pd.concat([old, new], ignore_index=True)
    return new


def fold_window_group_stream(
    stream: DataFrame,
    assigner: WindowAssigner,
    ts_col: str,
    key_cols: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
) -> DataFrame:
    """General Python fold per (key, window) over a stream, tumbling or
    sliding assigner. ``fn`` has the batch ``fold_window_group`` contract:
    one pandas group in (with ``window_start``/``window_end`` columns), the
    folded frame out."""
    us = F.unix_micros(F.col(ts_col))
    size_us = _interval_to_micros(assigner.size)
    if assigner.kind == "tumbling":
        start = us - F.pmod(us, F.lit(size_us))
        labeled = stream.withColumn("__ws", start)
    elif assigner.kind == "sliding":
        step_us = _interval_to_micros(assigner.step)
        last_start = us - F.pmod(us, F.lit(step_us))
        n_back = -(-size_us // step_us) - 1
        starts = F.sequence(
            last_start - F.lit(n_back * step_us), last_start, F.lit(step_us)
        )
        labeled = stream.withColumn("__ws", F.explode(starts)).where(
            (F.col("__ws") <= us) & ((F.col("__ws") + F.lit(size_us)) > us)
        )
    else:
        raise ValueError(
            f"fold_window_group_stream handles tumbling/sliding; use "
            f"fold_session_group_stream for sessions (got {assigner.kind!r})"
        )
    labeled = (
        labeled.withColumn("window_start", F.timestamp_micros(F.col("__ws")))
        .withColumn("window_end", F.timestamp_micros(F.col("__ws") + F.lit(size_us)))
        .drop("__ws")
    )

    def step(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        buf = _buffered(state, pd.concat(list(pdfs), ignore_index=True))
        state.update((pickle.dumps(buf),))
        yield fn(buf)

    return labeled.groupBy("window_start", "window_end", *key_cols).applyInPandasWithState(
        step,
        outputStructType=output_schema,
        stateStructType="buf binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fold_session_group_stream(
    stream: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
) -> DataFrame:
    """General Python fold per (key, session) over a stream. Sessions are
    merged inside the keyed state function (gap rule on the buffered +
    arriving rows, sorted by event time); closed sessions emit their fold
    and their rows leave the state (bounded by the open session), the
    trailing open session emits its current fold each trigger."""
    gap_us = _interval_to_micros(gap)

    def step(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        buf = _buffered(state, pd.concat(list(pdfs), ignore_index=True))
        buf = buf.sort_values(ts_col, kind="mergesort", ignore_index=True)
        us = buf[ts_col].astype("int64") // 1000  # ns -> µs
        new_session = (us - us.shift(1)).fillna(gap_us + 1) > gap_us
        sid = new_session.cumsum()
        last_sid = int(sid.iloc[-1])
        outs = []
        for s, grp in buf.groupby(sid):
            g = grp.reset_index(drop=True)
            start = g[ts_col].min()
            end = g[ts_col].max() + pd.Timedelta(microseconds=gap_us)
            g["window_start"] = start
            g["window_end"] = end
            outs.append(fn(g))
            if int(s) == last_sid:
                # only the open session's rows stay in state
                state.update((pickle.dumps(grp.drop(columns=["window_start", "window_end"], errors="ignore")),))
        yield pd.concat(outs, ignore_index=True)

    return stream.groupBy(*key_cols).applyInPandasWithState(
        step,
        outputStructType=output_schema,
        stateStructType="buf binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
