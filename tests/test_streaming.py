"""Streaming semantics: the reference's FoldWindow contract on real
unbounded frames — emit-on-watermark, late-data drop (Local.scala:195-228) —
plus keyed stateful MapAccumulate (applyInPandasWithState)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from zio_analytics_spark.sources.streaming import stream_parquet
from zio_analytics_spark.tmpdirs import scratch_dir
from zio_analytics_spark.streaming.stateful import running_sum_stream
from zio_analytics_spark.datastream import DataStream
from zio_analytics_spark.streaming import drive, to_memory
from zio_analytics_spark.windows import tumbling

SCHEMA = "ts timestamp, word string"


def _publish_parquet(df, src_dir: str, name: str) -> None:
    """Land a DataFrame as ONE top-level file in the stream-source dir.

    ``df.write.parquet`` creates a *directory*; the file stream source only
    lists top-level files, so the part-file is moved up (this also gives
    strictly increasing modification times → deterministic batch order).
    """
    import glob
    import shutil

    tmp = scratch_dir(prefix="stage_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src_dir, f"{name}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


def _write_batches(spark, batches) -> str:
    d = scratch_dir(prefix="stream_src_")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(f"2024-01-01 00:00:{s:02d}", w) for s, w in rows], "ts_s string, word string"
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "word")
        _publish_parquet(df, d, f"batch_{i}")
    return d


def _window_counts(stream, assigner):
    """Per-(word, window) counts with a 5 s watermark on ``ts`` — the
    reference's FoldWindow through ``DataStream.fold_window``."""
    return (
        DataStream(stream)
        .assign_timestamps("ts", "5 seconds")
        .group_by("word")
        .fold_window(assigner, n=F.count("*"))
        .to_df()
    )


def test_streaming_windowed_counts_and_late_drop(spark):
    """Tumbling 10s counts in append mode: windows emit once the watermark
    passes their end; data later than the watermark is dropped
    (reference drop-late policy, Local.scala:215-219)."""
    # Micro-batch watermark sequencing (observed): the watermark for batch N
    # derives from data through batch N-1, and state eviction runs within the
    # batch — so a late row landing in the SAME batch as the eviction still
    # joins the live state. The late row here arrives two batches after the
    # watermark passed its window, when [0,10)'s state is provably gone.
    src_dir = _write_batches(
        spark,
        [
            [(1, "a"), (5, "a"), (12, "b")],   # windows [0,10): a×2, [10,20): b
            [(35, "c")],                        # wm → 30s: closes [0,10), [10,20)
            [(55, "d")],                        # wm → 50s: closes [30,40)
            [(2, "a")],                         # LATE: wm=50s ≫ window [0,10) end
        ],
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_dir)
    agg = _window_counts(stream, tumbling("10 seconds"))
    out = to_memory(agg, "append", "stream_wc")
    got = {(r.window_start.second, r.word): r.n for r in out.collect()}
    # [0,10) emitted once with the on-time count; the late (2,'a') must not
    # re-emit or bump it. [50,60) never emits (watermark never passes 60).
    assert got[(0, "a")] == 2
    assert got[(10, "b")] == 1
    assert got[(30, "c")] == 1
    assert (50, "d") not in got
    assert sum(1 for (s, w) in got if w == "a") == 1


@pytest.mark.parametrize("mode", ["append", "complete", "update"])
def test_to_memory_equals_batch(spark, mode):
    """``to_memory`` drives a two-trigger bounded file stream to completion in
    each output mode; the memory table equals the same plan run as a batch,
    and the session conf is untouched. Keys are disjoint across the two
    files, so update mode emits every key exactly once."""
    src_dir = _write_batches(spark, [[(1, "a"), (5, "a"), (6, "b")], [(12, "c")]])
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_dir)
    batch = spark.read.schema(SCHEMA).parquet(src_dir)

    def plan(df):
        if mode == "append":
            return df.select("word", F.second("ts").alias("s"))
        return df.groupBy("word").agg(F.count("*").alias("n"))

    before = spark.conf.getAll
    out = to_memory(plan(stream), mode, f"to_memory_{mode}")
    assert spark.conf.getAll == before
    assert sorted(out.collect()) == sorted(plan(batch).collect())


def test_drive_propagates_batch_error_and_stops(spark):
    """A failing foreachBatch function surfaces from ``drive`` and leaves no
    query running."""
    src_dir = _write_batches(spark, [[(1, "a")]])
    stream = spark.readStream.schema(SCHEMA).parquet(src_dir)

    def fail(batch_df, batch_id):
        raise ValueError("batch function failed")

    writer = stream.writeStream.foreachBatch(fail).option(
        "checkpointLocation", scratch_dir(prefix="drive_err_")
    )
    with pytest.raises(Exception, match="batch function failed"):
        drive(writer)
    assert spark.streams.active == []


def test_streaming_running_sum_stateful(spark):
    """Keyed MapAccumulate over a stream: state persists across micro-batches."""
    d = scratch_dir(prefix="stream_state_")
    _publish_parquet(spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double"), d, "b0")
    _publish_parquet(spark.createDataFrame([(1, 5.0)], "k long, v double"), d, "b1")

    stream = spark.readStream.schema("k long, v double").option("maxFilesPerTrigger", "1").parquet(d)
    out = running_sum_stream(stream, ["k"], "v")
    q = out.writeStream.outputMode("append").format("memory").queryName("state_rs").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM state_rs").collect()
    sums_for_k1 = sorted(r.running_sum for r in rows if r.k == 1)
    # batches may arrive as one or two micro-batches; the FINAL running sum
    # for k=1 must be 7.0 (state threaded across batches)
    assert sums_for_k1[-1] == 7.0
    assert any(r.k == 2 and r.running_sum == 3.0 for r in rows)


def test_stream_parquet_single_file(spark, sf_dir):
    """Single-file path works (parent dir + pathGlobFilter)."""
    raw = stream_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    assert raw.isStreaming


def test_stream_stream_interval_join(spark):
    """Watermarked interval join: clicks matched to purchases within 30s."""
    from zio_analytics_spark.streaming.joins import interval_join

    d = scratch_dir(prefix="ssj_")
    clicks = spark.createDataFrame(
        [("2024-01-01 00:00:05", 1), ("2024-01-01 00:01:40", 2)], "c_ts_s string, c_uid long"
    ).select(F.col("c_ts_s").cast("timestamp").alias("c_ts"), "c_uid")
    buys = spark.createDataFrame(
        [("2024-01-01 00:00:20", 1), ("2024-01-01 00:03:00", 2)], "b_ts_s string, b_uid long"
    ).select(F.col("b_ts_s").cast("timestamp").alias("b_ts"), "b_uid")
    _publish_parquet(clicks, d, "clicks")
    d2 = scratch_dir(prefix="ssj2_")
    _publish_parquet(buys, d2, "buys")

    cs = spark.readStream.schema("c_ts timestamp, c_uid long").parquet(d)
    bs = spark.readStream.schema("b_ts timestamp, b_uid long").parquet(d2)
    joined = interval_join(
        cs, bs, F.col("c_uid") == F.col("b_uid"),
        left_ts="c_ts", right_ts="b_ts", watermark="10 seconds",
        lower="0 seconds", upper="30 seconds",
    )
    q = joined.writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT c_uid FROM ssj_out").collect()
    # uid=1: purchase 15s after click → joins; uid=2: 80s after → outside bound
    assert [r.c_uid for r in rows] == [1]


def test_streaming_sliding_windows(spark):
    """Sliding windows duplicate events across overlapping windows in
    streaming append mode (reference sliding duplication, Local.scala:200-206)."""
    from zio_analytics_spark.windows import sliding

    src_dir = _write_batches(
        spark,
        [
            [(12, "a")],          # windows [0,20) and [10,30)
            [(55, "z")],          # watermark → 50s: closes both
        ],
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_dir)
    agg = _window_counts(stream, sliding("20 seconds", "10 seconds"))
    out = to_memory(agg, "append", "stream_sliding")
    got = sorted((r.window_start.second, r.word) for r in out.collect() if r.word == "a")
    assert got == [(0, "a"), (10, "a")]


def test_streaming_session_windows(spark):
    """Session windows in streaming append mode (the reference's TODO,
    Window.scala:23-26, working end-to-end on an unbounded frame)."""
    from zio_analytics_spark.windows import session

    src_dir = _write_batches(
        spark,
        [
            [(1, "u"), (5, "u"), (30, "u")],   # sessions: [1,15) (2 events), [30,40)
            [(55, "z")],                        # watermark → 50s > 40 → flush
        ],
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_dir)
    agg = _window_counts(stream, session("10 seconds"))
    out = to_memory(agg, "append", "stream_session")
    got = sorted((r.window_start.second, r.n) for r in out.collect() if r.word == "u")
    assert got == [(1, 2), (30, 1)]


def test_streaming_exact_dedup(spark):
    """First-seen row per distinct content survives; later copies drop —
    across micro-batches (state-backed)."""
    from zio_analytics_spark.streaming.dedup import streaming_exact_dedup

    d = scratch_dir(prefix="sdedup_")
    _publish_parquet(
        spark.createDataFrame([(1, "same text"), (2, "other text")], "id long, text string"), d, "b0"
    )
    _publish_parquet(
        spark.createDataFrame([(3, "same text"), (4, "third text")], "id long, text string"), d, "b1"
    )
    stream = spark.readStream.schema("id long, text string").option("maxFilesPerTrigger", "1").parquet(d)
    out = streaming_exact_dedup(stream)
    q = out.writeStream.outputMode("append").format("memory").queryName("sded").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r.id for r in spark.sql("SELECT * FROM sded").collect())
    assert ids == [1, 2, 4]  # id=3 is a cross-batch duplicate of id=1


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill/restart from a real checkpoint with the RocksDB state store:
    run 1 aggregates files 1-3 and stops; 3 MORE files arrive; run 2
    restarts from the same checkpoint and must (a) not re-read committed
    files (no double counts), (b) restore run-1 state (no undercounts) —
    final result == batch over all 6 files, exactly-once."""
    import glob

    from pyspark.sql import functions as F

    from zio_analytics_spark.streaming import recovery

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def publish(tag, lo, hi):
        spark.createDataFrame(
            [(i, f"k{i % 3}") for i in range(lo, hi)], "v long, k string"
        ).coalesce(1).write.mode("append").parquet(src)

    def agg(st):
        return st.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))

    for b in range(3):
        publish(b, b * 10, b * 10 + 10)
    q1 = recovery.start_complete_query(
        spark, src, "v long, k string", agg, ckpt, "ckpt_t_run1"
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    partial = {r.k: (r.s, r.n) for r in spark.sql("SELECT * FROM ckpt_t_run1").collect()}
    assert sum(n for _, n in partial.values()) == 30  # 3 files committed

    # RocksDB provider engaged: zip snapshots, not HDFS-provider .delta files
    state_files = glob.glob(f"{ckpt}/state/**/*", recursive=True)
    assert any(f.endswith(".zip") for f in state_files), state_files[:10]
    assert not any(f.endswith(".delta") for f in state_files), state_files[:10]

    for b in range(3, 6):
        publish(b, b * 10, b * 10 + 10)
    q2 = recovery.start_complete_query(
        spark, src, "v long, k string", agg, ckpt, "ckpt_t_run2"
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    final = {r.k: (r.s, r.n) for r in spark.sql("SELECT * FROM ckpt_t_run2").collect()}
    batch = {
        r.k: (r.s, r.n)
        for r in spark.read.parquet(src)
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert final == batch
    assert sum(n for _, n in final.values()) == 60
    # and strictly more than run 1 saw: state genuinely carried over
    assert all(final[k][1] > partial[k][1] for k in partial)


def test_run_kill_restart_mid_stream(spark, tmp_path):
    """The kill-mid-stream driver helper: stops after >=2 non-empty batches,
    restarts from the checkpoint, drains; result equals batch, and the
    RocksDB provider it switches to does not outlive the call."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.streaming import recovery

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame([(i, f"k{i % 5}") for i in range(200)], "v long, k string")
    recovery.split_into_files(df, src, n_files=6)
    before = spark.conf.getAll
    out = recovery.run_kill_restart(
        spark,
        src,
        "v long, k string",
        lambda st: st.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")),
        ckpt,
        stop_after_batches=2,
    )
    assert spark.conf.getAll == before
    got = {r.k: (r.s, r.n) for r in out.collect()}
    want = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    assert got == want
    # the kill can interrupt one checkpoint write, which the local
    # FileSystem-based manager leaves as a temp file plus its .crc (seen
    # in offsets/); more would mean temp files pile up per restart
    leftovers = [
        os.path.join(d, f)
        for d, _, fs in os.walk(ckpt)
        for f in fs
        if f.endswith((".tmp", ".tmp.crc"))
    ]
    assert len(leftovers) <= 2, leftovers


def test_replayed_batch_rewrites_equal_output_and_state(spark, tmp_path):
    """Removing the last ``commits/`` entry and restarting replays that
    batch against the same checkpoint: the replayed output and the state
    rows equal the first run's. The replay re-commits the batch's
    state-store version onto files that already exist, which the local
    FileSystem-based checkpoint manager cannot replace: each replay leaves
    a temp file and its ``.crc`` for every rewritten delta file and for
    its checksum file, and nothing removes them."""
    from zio_analytics_spark.streaming import recovery

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(60)], "v long, k string"
    )
    recovery.split_into_files(df, src, n_files=3)
    outputs: dict[int, list] = {}

    def sink(batch, batch_id):
        outputs.setdefault(batch_id, []).append(
            sorted(tuple(r) for r in batch.collect())
        )

    def run():
        stream = (
            spark.readStream.schema("v long, k string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("k").agg(
            F.sum("v").alias("s"), F.count("*").alias("n")
        )
        drive(
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
        )

    def state():
        rows = spark.read.format("statestore").load(ckpt)
        return sorted(map(str, rows.select("key", "value").collect()))

    def leftovers():
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(ckpt, "state"))
            for f in fs
            if f.endswith((".tmp", ".tmp.crc"))
        ]

    run()
    last = max(outputs)
    want_out, want_state = outputs[last][0], state()
    assert want_out and leftovers() == []
    state_files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(ckpt, "state"))
        for f in fs
        if f in (f"{last + 1}.delta", f"{last + 1}.zip")  # HDFS or RocksDB
    ]
    counts = []
    for replay in (1, 2):
        for name in (str(last), f".{last}.crc"):
            os.remove(os.path.join(ckpt, "commits", name))
        run()
        assert len(outputs[last]) == replay + 1
        assert outputs[last][-1] == want_out
        assert state() == want_state
        counts.append(len(leftovers()))
    # per replay, at most one temp pair for each rewritten state file and
    # one for its checkpoint checksum file; they add up across replays
    assert counts[0] <= 4 * len(state_files), leftovers()
    assert counts[1] <= 8 * len(state_files), leftovers()


def test_fold_window_group_stream_multi_trigger(spark, tmp_path):
    """General-fold streaming windows under MULTI-trigger delivery: each
    trigger re-emits the updated fold for groups it touched (changelog
    contract) — keeping the LAST emission per (key, window_start) must
    equal the batch answer, and for sessions the closed-session rows must
    have left the state (only the open session is retained)."""
    import pandas as pd

    from zio_analytics_spark.streaming import grouped

    src = str(tmp_path / "gf_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1; the second
    # batch extends one session across the file boundary
    rows1 = [(1_000 * s, "a", float(v)) for s, v in [(0, 1), (30, 5), (3600, 2)]]
    rows2 = [(1_000 * s, "a", float(v)) for s, v in [(3660, 9), (9000, 4)]]
    df1 = spark.createDataFrame(rows1, "ms long, event_type string, value double")
    df2 = spark.createDataFrame(rows2, "ms long, event_type string, value double")
    df1.coalesce(1).write.parquet(src)
    df2.coalesce(1).write.mode("append").parquet(src)

    def range_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "window_start": [pdf["window_start"].iloc[0]],
                "event_type": [pdf["event_type"].iloc[0]],
                "value_range": [pdf["value"].max() - pdf["value"].min()],
            }
        )

    st = (
        spark.readStream.schema("ms long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_millis(F.col("ms")))
    )
    out = grouped.fold_session_group_stream(
        st, "ts", ["event_type"], "10 minutes", range_fold,
        "window_start timestamp, event_type string, value_range double",
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("gf_multi").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM gf_multi").collect()
    # last emission per (key, window_start) wins
    last = {}
    for r in got:
        last[(r.event_type, r.window_start)] = r.value_range
    # batch truth: sessions at gap=10min over ts {0,30,3600,3660,9000}s:
    # {0,30}, {3600,3660}, {9000} -> ranges 4, 7, 0
    assert sorted(last.values()) == [0.0, 4.0, 7.0], got
    # the cross-boundary session {3600,3660} got re-emitted with the
    # extended range (first trigger saw only 3600 -> range 0)
    assert len(got) > len(last), got


def test_interval_join_outer_needs_watermark_proof(spark, tmp_path):
    """A LEFT OUTER stream-stream join withholds NULL-padded rows until the
    watermark proves them unmatchable: without a watermark-advancing later
    batch the unmatched row is NOT emitted; with one, it is."""
    import time

    from pyspark.sql import functions as F

    from zio_analytics_spark.streaming.joins import interval_join

    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def run(with_sentinel: bool, name: str):
        src = str(tmp_path / f"src_{name}")
        base = spark.createDataFrame(
            [
                (1, 10, "purchase", "2024-01-01 10:00:00"),
                (2, 10, "click", "2024-01-01 09:30:00"),   # matches purchase 1
                (3, 20, "purchase", "2024-01-01 10:00:00"),  # no click -> outer
            ],
            "event_id long, user_id long, event_type string, ts string",
        ).select("event_id", "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
        base.repartition(1).write.mode("append").parquet(src)
        if with_sentinel:
            time.sleep(1.05)
            s = spark.createDataFrame(
                [(-1, -1, "purchase", "2030-01-01 00:00:00"),
                 (-2, -1, "click", "2030-01-01 00:00:00")],
                "event_id long, user_id long, event_type string, ts string",
            ).select("event_id", "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
            s.repartition(1).write.mode("append").parquet(src)
            time.sleep(1.05)
            s.selectExpr("event_id - 10 AS event_id", "user_id", "event_type",
                         "ts + INTERVAL 1 YEAR AS ts").write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        p = stream.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts"))
        c = stream.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"))
        j = interval_join(
            p, c, on=F.col("user_id") == F.col("cu"), left_ts="p_ts", right_ts="c_ts",
            watermark="10 minutes", lower="1 HOUR", upper="0 SECONDS", how="left_outer",
        )
        out = j.select("pid", "cid", "user_id")
        q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {(r["pid"], r["cid"]) for r in spark.sql(f"SELECT * FROM {name}").collect()
                if r["user_id"] is None or r["user_id"] >= 0}

    without = run(False, "oj_nosent")
    assert (1, 2) in without          # the match emits either way
    assert (3, None) not in without   # outer row withheld: unprovable
    with_s = run(True, "oj_sent")
    assert (1, 2) in with_s and (3, None) in with_s  # proof arrived -> emitted


def test_update_mode_emits_only_changed_keys(spark, tmp_path):
    """Update mode re-emits a key per REVISION (unlike complete, which
    rewrites everything every trigger): two micro-batches touching
    overlapping keys produce one row per (key, revision)."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "upd_src")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double") \
        .repartition(1).write.mode("append").parquet(src)
    time.sleep(1.05)
    spark.createDataFrame([(2, 5.0), (3, 30.0)], "k long, v double") \
        .repartition(1).write.mode("append").parquet(src)
    st = spark.readStream.schema("k long, v double").option("maxFilesPerTrigger", 1).parquet(src)
    agg = st.groupBy("k").agg(F.sum("v").alias("s"))
    q = agg.writeStream.outputMode("update").format("memory").queryName("upd_t").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [(r["k"], r["s"]) for r in spark.sql("SELECT * FROM upd_t").collect()]
    # batch1 emits k=1 and k=2; batch2 emits ONLY the changed k=2 (revised)
    # and the new k=3 — k=1 is NOT re-emitted
    assert sorted(rows) == [(1, 10.0), (2, 20.0), (2, 25.0), (3, 30.0)]


def test_streaming_holt_state_across_batches(spark):
    """Two-state Holt recurrence threaded across micro-batches via the
    multi-field state helper: the final (level, trend) for a key must
    equal the single-pass batch replay over the concatenated input."""
    from zio_analytics_spark.streaming.stateful import map_accumulate_stream_multi

    d = scratch_dir(prefix="stream_holt_")
    _publish_parquet(
        spark.createDataFrame([(1, 0, 10.0), (1, 1, 20.0)], "k long, i long, v double"), d, "b0"
    )
    _publish_parquet(
        spark.createDataFrame([(1, 2, 30.0), (1, 3, 40.0)], "k long, i long, v double"), d, "b1"
    )
    stream = (
        spark.readStream.schema("k long, i long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )

    def fn(acc, pdf):
        import numpy as np

        lvl, trd, seen = acc
        pdf = pdf.sort_values(["i"])
        vals = pdf["v"].to_numpy(dtype=np.float64)
        out_l = np.empty(len(vals))
        out_t = np.empty(len(vals))
        for j in range(len(vals)):
            if not seen:
                lvl, trd, seen = vals[j], 0.0, 1
            else:
                ln = 0.5 * vals[j] + 0.5 * (lvl + trd)
                trd = 0.25 * (ln - lvl) + 0.75 * trd
                lvl = ln
            out_l[j] = lvl
            out_t[j] = trd
        o = pdf[["k", "i"]].copy()
        o["level"] = out_l
        o["trend"] = out_t
        return ((float(lvl), float(trd), int(seen)), o)

    out = map_accumulate_stream_multi(
        stream, ["k"], fn, init_state=lambda: (0.0, 0.0, 0),
        output_schema="k long, i long, level double, trend double",
        state_schema="lvl double, trd double, seen int",
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("holt_mb").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["i"]: (r["level"], r["trend"]) for r in spark.sql("SELECT * FROM holt_mb").collect()}
    l = t = None
    for i, x in enumerate([10.0, 20.0, 30.0, 40.0]):
        if l is None:
            l, t = x, 0.0
        else:
            ln = 0.5 * x + 0.5 * (l + t)
            t = 0.25 * (ln - l) + 0.75 * t
            l = ln
        assert got[i] == (l, t), i


def test_streaming_holt_winters_state_across_batches(spark):
    """The (m+2)-state Holt-Winters recurrence — level, trend, AND the
    rotating m-slot seasonal buffer — threaded across micro-batches: the
    per-row outputs must equal the single-pass replay over the
    concatenated input, with the season boundary (m=3) straddling the
    batch boundary so the buffer rotation itself is what's under test."""
    from zio_analytics_spark.streaming.stateful import map_accumulate_stream_multi

    m = 3
    vals = [10.0, 40.0, 20.0, 12.0, 44.0, 18.0, 11.0]
    d = scratch_dir(prefix="stream_hw_")
    _publish_parquet(
        spark.createDataFrame(
            [(1, i, v) for i, v in enumerate(vals[:4])], "k long, i long, v double"
        ), d, "b0",
    )
    _publish_parquet(
        spark.createDataFrame(
            [(1, i + 4, v) for i, v in enumerate(vals[4:])], "k long, i long, v double"
        ), d, "b1",
    )
    stream = (
        spark.readStream.schema("k long, i long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )

    def fn(acc, pdf):
        import numpy as np

        lvl, trd, seen = acc[0], acc[1], acc[2]
        buf = list(acc[3:])
        pdf = pdf.sort_values(["i"])
        xs = pdf["v"].to_numpy(dtype=np.float64)
        out_l = np.empty(len(xs))
        out_t = np.empty(len(xs))
        out_s = np.empty(len(xs))
        for j in range(len(xs)):
            if not seen:
                lvl, trd, seen = xs[j], 0.0, 1
                s = 0.0
                buf = [0.0] * (m - 1) + [s]
            else:
                sm = buf[0]
                ln = 0.5 * (xs[j] - sm) + 0.5 * (lvl + trd)
                trd = 0.25 * (ln - lvl) + 0.75 * trd
                lvl = ln
                s = 0.25 * (xs[j] - lvl) + 0.75 * sm
                buf = buf[1:] + [s]
            out_l[j] = lvl
            out_t[j] = trd
            out_s[j] = s
        o = pdf[["k", "i"]].copy()
        o["level"] = out_l
        o["trend"] = out_t
        o["seasonal"] = out_s
        return ((float(lvl), float(trd), int(seen), *[float(x) for x in buf]), o)

    out = map_accumulate_stream_multi(
        stream, ["k"], fn, init_state=lambda: (0.0, 0.0, 0, 0.0, 0.0, 0.0),
        output_schema="k long, i long, level double, trend double, seasonal double",
        state_schema="lvl double, trd double, seen int, s1 double, s2 double, s3 double",
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("hw_mb").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["i"]: (r["level"], r["trend"], r["seasonal"])
        for r in spark.sql("SELECT * FROM hw_mb").collect()
    }
    l = t = None
    buf = []
    for i, x in enumerate(vals):
        if l is None:
            l, t, s = x, 0.0, 0.0
            buf = [0.0] * (m - 1) + [s]
        else:
            sm = buf[0]
            ln = 0.5 * (x - sm) + 0.5 * (l + t)
            t = 0.25 * (ln - l) + 0.75 * t
            l = ln
            s = 0.25 * (x - l) + 0.75 * sm
            buf = buf[1:] + [s]
        assert got[i] == (l, t, s), i  # bit-identical across the batch boundary
