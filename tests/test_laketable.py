"""Versioned lake table (sources/laketable.py): transaction-log commits,
snapshot isolation, time travel, stats-pruned MERGE, DELETE, checkpoints,
and the concurrent-writer conflict contract."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from zio_analytics_spark.sources import laketable as lake


def _orders(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 10.0).alias("amount"),
    )


def _state(spark, table, version=None):
    return {
        r.k: (r.grp, r.amount)
        for r in lake.read_snapshot(spark, table, version).collect()
    }


def test_create_and_read(spark, tmp_path):
    t = str(tmp_path / "t")
    v = lake.create_table(_orders(spark).repartition(4), t, key_cols=["k"])
    assert v == 0
    assert lake.latest_version(t) == 0
    df = lake.read_snapshot(spark, t)
    assert df.count() == 1000
    # data files + log laid out as documented
    assert os.path.isdir(os.path.join(t, "_log"))
    assert len([f for f in os.listdir(t) if f.endswith(".parquet")]) == 4


def test_merge_upserts_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark).repartition(4), t, key_cols=["k"])
    changes = spark.range(10).select(
        (F.col("id") + 995).alias("k"),  # 995..999 update, 1000..1004 insert
        F.lit(9).alias("grp"),
        F.lit(-1.0).alias("amount"),
    )
    v = lake.merge(spark, t, changes)
    assert v == 1
    now = _state(spark, t)
    assert len(now) == 1005
    for k in range(995, 1005):
        assert now[k] == (9, -1.0)
    assert now[0] == (0, 0.0)
    # time travel: version 0 unchanged
    then = _state(spark, t, version=0)
    assert len(then) == 1000
    assert then[999] == (4, 9990.0)


def test_merge_prunes_untouched_files(spark, tmp_path):
    """Data skipping: a changeset confined to one key range must leave
    files outside that range untouched (they survive by reference)."""
    t = str(tmp_path / "t")
    # 4 files with disjoint key ranges via repartitionByRange
    lake.create_table(
        _orders(spark, 1000).repartitionByRange(4, "k"), t, key_cols=["k"]
    )
    before = set(lake.snapshot(t).files)
    changes = spark.range(5).select(
        F.col("id").alias("k"), F.lit(7).alias("grp"), F.lit(0.5).alias("amount")
    )  # keys 0..4 — one range file
    lake.merge(spark, t, changes)
    after = set(lake.snapshot(t).files)
    survivors = before & after
    assert len(survivors) >= 2, "files outside the changeset range were rewritten"
    assert _state(spark, t)[3] == (7, 0.5)
    assert _state(spark, t)[999] == (4, 9990.0)


def test_append_and_overwrite(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100), t, key_cols=["k"])
    lake.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") * 10.0).alias("amount"),
        ),
        t,
    )
    assert lake.read_snapshot(spark, t).count() == 150
    lake.overwrite(_orders(spark, 10), t)
    assert lake.read_snapshot(spark, t).count() == 10
    # every prior version still readable
    assert lake.read_snapshot(spark, t, 0).count() == 100
    assert lake.read_snapshot(spark, t, 1).count() == 150


def test_delete_where(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100).repartition(2), t, key_cols=["k"])
    v = lake.delete_where(spark, t, "grp = 2")
    assert v == 1
    left = _state(spark, t)
    assert len(left) == 80
    assert all(g != 2 for g, _ in left.values())
    # no-op delete commits nothing
    assert lake.delete_where(spark, t, "grp = 99") == 1


def test_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing for the same version: exactly one wins; the
    loser gets ConcurrentCommitError."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    # simulate the race at the protocol level: both writers resolved
    # snapshot v0, writer A commits v1 first
    lake._commit(t, 1, [], "APPEND")
    with pytest.raises(lake.ConcurrentCommitError):
        lake._commit(t, 1, [], "APPEND")


def test_merge_retries_through_conflict(spark, tmp_path):
    """A merge that loses the race must re-run against the winner's
    snapshot — the winner's rows survive."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100), t, key_cols=["k"])

    # the race: merge() resolves a snapshot; before its commit lands,
    # another writer's merge commits. The loser's O_EXCL create fails
    # (ConcurrentCommitError), and the retry loop must re-run the whole
    # transaction against the fresh snapshot so the winner's rows survive.
    import unittest.mock as mock

    other = spark.createDataFrame([(2, 8, 333.0)], "k long, grp long, amount double")
    third = spark.createDataFrame([(3, 8, 444.0)], "k long, grp long, amount double")

    orig_snapshot = lake.snapshot
    state = {"first": True}

    def stale_then_fresh(table, version=None, **kw):
        if state["first"]:
            state["first"] = False
            s = orig_snapshot(table, version, **kw)
            # concurrently, another writer lands a merge
            lake.merge(spark, t, other)
            return s  # stale snapshot: resolved before the other commit
        return orig_snapshot(table, version, **kw)

    with mock.patch.object(lake, "snapshot", side_effect=stale_then_fresh):
        v = lake.merge(spark, t, third)
    now = _state(spark, t)
    assert now[2] == (8, 333.0), "racing winner's rows lost"
    assert now[3] == (8, 444.0), "retried merge's rows lost"


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 20), t, key_cols=["k"])
    for i in range(12):
        lake.append(
            spark.createDataFrame(
                [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    # checkpoint written at v10 — PARQUET format (round-15), Spark/
    # pyarrow-readable, meta in the key-value metadata
    cp_path = os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet")
    assert os.path.exists(cp_path)
    snap = lake.snapshot(t)
    assert snap.version == 12
    assert lake.read_snapshot(spark, t).count() == 32
    # checkpointed resolve equals full replay
    state = lake._load_checkpoint(t, 10)
    assert state["key_cols"] == ["k"]
    assert len(state["files"]) == len(lake.snapshot(t, 10).files)
    assert lake.read_snapshot(spark, t, 10).count() == 30
    # meta-only load never parses the file rows
    meta_only = lake._load_checkpoint(t, 10, with_files=False)
    assert meta_only["key_cols"] == ["k"] and meta_only["files"] == []


def test_json_checkpoint_format_still_resolves(spark, tmp_path):
    """Pre-round-15 tables carry JSON checkpoints — both formats resolve,
    and a corrupt parquet checkpoint falls back to the JSON twin, then to
    full log replay (checkpoints are an optimization, never truth)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 20), t, key_cols=["k"])
    for i in range(12):
        lake.append(
            spark.createDataFrame(
                [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    pq_cp = os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet")
    json_cp = os.path.join(t, "_log", f"{10:020d}.checkpoint.json")
    # write the legacy-format twin from the same state, drop the parquet
    snap10 = lake.snapshot(t, 10)
    with open(json_cp, "w") as f:
        json.dump(
            {
                "files": list(snap10.files.values()),
                "key_cols": snap10.key_cols,
                "schema": snap10.schema,
                "partition_by": snap10.partition_by,
            },
            f,
        )
    os.remove(pq_cp)
    assert lake.snapshot(t).version == 12
    assert lake.read_snapshot(spark, t).count() == 32
    assert lake.snapshot(t, with_files=False).key_cols == ["k"]
    # corrupt JSON too -> full replay still resolves identically
    with open(json_cp, "w") as f:
        f.write("{ truncated")
    assert lake.read_snapshot(spark, t).count() == 32


def test_history_audit(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    lake.append(_orders(spark, 5), t)
    hist = lake.table_history(t)
    assert [h["version"] for h in hist] == [0, 1]
    assert [h["operation"] for h in hist] == ["CREATE", "APPEND"]


def test_snapshot_isolation_under_overwrite(spark, tmp_path):
    """A reader's pinned file list survives a subsequent overwrite —
    immutable files are never modified, only dereferenced."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 50), t, key_cols=["k"])
    pinned = lake.read_snapshot(spark, t)  # resolves v0's file list now
    lake.overwrite(_orders(spark, 5), t)
    assert pinned.count() == 50  # still reads v0's files
    assert lake.read_snapshot(spark, t).count() == 5


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100).repartition(2), t, key_cols=["k"])
    v0_files = set(lake.snapshot(t).files)
    lake.overwrite(_orders(spark, 10), t)
    # both generations on disk until vacuum
    on_disk = {f for f in os.listdir(t) if f.endswith(".parquet")}
    assert v0_files <= on_disk
    doomed = lake.vacuum(t, keep_versions=1, min_age_seconds=0)
    assert set(doomed) == v0_files
    # live snapshot unaffected; vacuumed version no longer readable
    assert lake.read_snapshot(spark, t).count() == 10
    with pytest.raises(Exception):
        lake.read_snapshot(spark, t, 0).count()


def test_vacuum_retention_keeps_history(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 50), t, key_cols=["k"])
    lake.overwrite(_orders(spark, 20), t)
    assert lake.vacuum(t, keep_versions=2, min_age_seconds=0) == []  # both versions retained
    assert lake.read_snapshot(spark, t, 0).count() == 50


def test_compact_layout_only(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 500).repartition(16), t, key_cols=["k"])
    assert len(lake.snapshot(t).files) == 16
    v = lake.compact(spark, t, target_files=2)
    assert v == 1
    assert len(lake.snapshot(t).files) == 2
    # bit-identical rows, just fewer files
    assert _state(spark, t) == _state(spark, t, version=0)


def test_stream_batch_idempotence(spark, tmp_path):
    """The exactly-once contract: a replayed micro-batch (same batch_id)
    must not double its rows."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    batch = spark.createDataFrame(
        [(100, 1, 5.0), (101, 1, 6.0)], "k long, grp long, amount double"
    )
    v1 = lake.append_stream_batch(batch, t, batch_id=7)
    assert v1 == 1
    # failure replay: same batch id arrives again
    assert lake.append_stream_batch(batch, t, batch_id=7) is None
    assert lake.read_snapshot(spark, t).count() == 12
    # next batch proceeds
    nxt = spark.createDataFrame([(102, 1, 7.0)], "k long, grp long, amount double")
    assert lake.append_stream_batch(nxt, t, batch_id=8) == 2
    assert lake.read_snapshot(spark, t).count() == 13
    assert lake.committed_batch_ids(t) == {7, 8}


def test_stream_batch_foreachbatch_end_to_end(spark, tmp_path):
    """Real Structured Streaming ingest into the lake table through
    foreachBatch + append_stream_batch — the production exactly-once
    sink composition."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame([], "k long, grp long, amount double").repartition(1),
        t,
        key_cols=["k"],
    )
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
        .selectExpr("value AS k", "value % 3 AS grp", "CAST(value AS DOUBLE) AS amount")
    )
    q = src.writeStream.foreachBatch(
        lambda df, bid: lake.append_stream_batch(df, t, bid)
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(60)
    n = lake.read_snapshot(spark, t).count()
    assert n >= 0  # rate source may emit 0 rows under availableNow
    ids = lake.committed_batch_ids(t)
    # every committed batch id is recorded exactly once
    assert len(ids) == len(set(ids))


def test_compact_clusters_for_pruning(spark, tmp_path):
    """Clustered compaction must restore MERGE pruning: interleaved
    append files all overlap any changeset, but after compact(cluster_by
    =keys) the files carry disjoint key ranges and a narrow merge
    touches one."""
    t = str(tmp_path / "t")
    lake.create_table(
        _orders(spark, 0).coalesce(1), t, key_cols=["k"]
    )
    # three appends with fully interleaved key ranges
    for mod in range(3):
        lake.append(
            spark.range(900).where(F.col("id") % 3 == mod).select(
                F.col("id").alias("k"),
                (F.col("id") % 5).alias("grp"),
                (F.col("id") * 10.0).alias("amount"),
            ).coalesce(1),  # one file per append batch, spanning 0..899
            t,
        )
    # every appended file spans ~the whole key range: a narrow changeset
    # overlaps all of them
    snap = lake.snapshot(t)
    data_files = [a for a in snap.files.values() if a["rows"] > 0]
    overlapping = [
        a for a in data_files
        if a["stats"]["k"]["min"] <= 4 and a["stats"]["k"]["max"] >= 0
    ]
    assert len(overlapping) == len(data_files)
    lake.compact(spark, t, target_files=4)  # cluster_by defaults to keys
    snap2 = lake.snapshot(t)
    files2 = [a for a in snap2.files.values() if a["rows"] > 0]
    assert len(files2) == 4
    hit = [
        a for a in files2
        if a["stats"]["k"]["max"] >= 0 and a["stats"]["k"]["min"] <= 4
    ]
    assert len(hit) == 1, "clustered files must have disjoint key ranges"
    # rows unchanged
    assert lake.read_snapshot(spark, t).count() == 900
    # and the narrow merge now rewrites only the hit file
    before = set(lake.snapshot(t).files)
    lake.merge(spark, t, spark.createDataFrame(
        [(2, 9, 0.1)], "k long, grp long, amount double"
    ))
    survivors = before & set(lake.snapshot(t).files)
    assert len(survivors) == 3


def test_table_changes_cdf(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100).coalesce(1), t, key_cols=["k"])
    lake.merge(spark, t, spark.createDataFrame(
        [(0, 9, -1.0), (200, 9, -2.0)], "k long, grp long, amount double"
    ))  # v1: update k=0, insert k=200
    cdf = lake.table_changes(spark, t, from_version=0, to_version=1)
    by_type = {
        (r.k, r._change_type) for r in cdf.collect()
    }
    # the rewritten file's rows appear as delete+insert pairs; the net
    # new row as insert only
    assert (200, "insert") in by_type
    assert (0, "insert") in by_type and (0, "delete") in by_type
    # net view: group the pairs away
    net = (
        cdf.groupBy("k")
        .agg(
            F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(-1)).alias(
                "net"
            )
        )
        .where("net != 0")
    )
    assert {r.k for r in net.collect()} == {200}
    # empty range
    assert lake.table_changes(spark, t, 1, 1).count() == 0


def test_schema_evolution_additive(spark, tmp_path):
    """Appending files with a NEW column surfaces NULL for old files —
    additive evolution through mergeSchema reads."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    widened = spark.createDataFrame(
        [(100, 1, 1.0, "new-col")], "k long, grp long, amount double, tag string"
    )
    lake.append(widened, t)
    df = lake.read_snapshot(spark, t)
    assert "tag" in df.columns
    rows = {r.k: r.tag for r in df.collect()}
    assert rows[100] == "new-col"
    assert rows[0] is None  # pre-evolution file surfaces NULL


def test_schema_on_write_rejects_type_conflict(spark, tmp_path):
    """A column type change is rejected at write time — silently mixing
    types across files would poison every later snapshot read."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    bad = spark.createDataFrame(
        [(100, 1, "not-a-double")], "k long, grp long, amount string"
    )
    with pytest.raises(ValueError, match="amount"):
        lake.append(bad, t)
    with pytest.raises(ValueError, match="amount"):
        lake.merge(spark, t, bad)
    # the table is untouched
    assert lake.latest_version(t) == 0
    assert lake.read_snapshot(spark, t).count() == 10


def test_vacuum_age_guard_protects_inflight_writers(spark, tmp_path):
    """Default vacuum must NOT reclaim freshly-written unreferenced files
    — a concurrent writer stages parts before its commit lands."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 20), t, key_cols=["k"])
    lake.overwrite(_orders(spark, 5), t)
    # files are seconds old: the 1h default guard keeps everything
    assert lake.vacuum(t, keep_versions=1) == []
    assert lake.read_snapshot(spark, t, 0).count() == 20  # still readable


def test_protocol_model_differential(spark, tmp_path):
    """Model-based differential: a seeded random op sequence applies to
    the lake table AND to a plain dict model; after every commit the
    snapshot must equal the model, and at the end EVERY recorded version
    must still time-travel to its historical model state — the protocol's
    whole contract in one test."""
    import random

    rng = random.Random(20260816)
    t = str(tmp_path / "t")

    def mk(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "k long, v double"
        )

    model: dict[int, float] = {i: float(i) for i in range(40)}
    lake.create_table(
        mk(model.items()).repartition(3), t, key_cols=["k"]
    )
    history = {0: dict(model)}

    for _ in range(10):
        op = rng.choice(["append", "merge", "delete", "compact", "overwrite"])
        if op == "append":
            base = rng.randrange(1000, 9000)
            rows = [(base + i, rng.random()) for i in range(rng.randrange(1, 5))]
            v = lake.append(mk(rows), t)
            model.update(rows)
        elif op == "merge":
            keys = rng.sample(sorted(model), k=min(4, len(model)))
            keys.append(max(model) + 1)  # one insert
            rows = [(k, round(rng.random(), 6)) for k in keys]
            v = lake.merge(spark, t, mk(rows))
            model.update(rows)
        elif op == "delete":
            cut = rng.choice(sorted(model))
            v = lake.delete_where(spark, t, f"k = {cut}")
            model.pop(cut, None)
        elif op == "compact":
            v = lake.compact(spark, t, target_files=2)
        else:
            rows = [(i, rng.random()) for i in range(rng.randrange(5, 15))]
            v = lake.overwrite(mk(rows), t)
            model = dict(rows)
        history[v] = dict(model)
        got = {r.k: r.v for r in lake.read_snapshot(spark, t).collect()}
        assert got == model, f"divergence after {op} at v{v}"

    # every version still replays to its historical state
    for v, state in history.items():
        got = {r.k: r.v for r in lake.read_snapshot(spark, t, version=v).collect()}
        assert got == state, f"time travel to v{v} diverged"


def test_snapshot_read_keeps_pushdown_and_pruning(spark, tmp_path):
    """The mergeSchema snapshot read must not cost Catalyst its parquet
    optimizations: filters still push to the scan, projection still
    prunes the read schema."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 500).repartition(2), t, key_cols=["k"])
    df = lake.read_snapshot(spark, t).where("k > 100").select("k")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(k,100)" in plan  # PushedFilters reached the scan
    assert "struct<k:bigint>" in plan    # ReadSchema pruned to one column


# ------------------------------------------------------------------ #
# round 14: schema-preserving rewrites, atomic log publishes, the
# storage seam, and partition columns


def test_delete_rewrite_preserves_evolved_schema(spark, tmp_path):
    """DELETE whose hit files span a schema-evolution boundary must keep
    the evolved column in the rewrite (round-13 ADVICE: the survivor
    read needs mergeSchema + alignment to the table schema, else rows
    silently lose columns)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])
    widened = spark.createDataFrame(
        [(100, 1, 1.0, "keep-me"), (101, 1, 2.0, "drop-me")],
        "k long, grp long, amount double, tag string",
    )
    lake.append(widened.coalesce(1), t)
    # hits BOTH generations: k=3 lives in the pre-tag file, k=101 in the
    # evolved one — both files get rewritten
    lake.delete_where(spark, t, "k = 3 OR k = 101")
    df = lake.read_snapshot(spark, t)
    assert "tag" in df.columns
    rows = {r.k: r.tag for r in df.collect()}
    assert rows[100] == "keep-me", "rewrite dropped an evolved column"
    assert rows[0] is None
    assert 3 not in rows and 101 not in rows


def test_merge_keeps_source_values_for_evolved_columns(spark, tmp_path):
    """MERGE must align both sides to the FULL table schema: a source
    value for a column the touched files don't carry used to be silently
    selected away (round-13 ADVICE)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])
    lake.append(
        spark.createDataFrame(
            [(100, 1, 1.0, "appended")],
            "k long, grp long, amount double, tag string",
        ),
        t,
    )
    # k=5 lives in the pre-tag file; its stats (0..9) exclude the
    # appended file, so ONLY the pre-tag file is touched — the tag value
    # must still land
    lake.merge(
        spark,
        t,
        spark.createDataFrame(
            [(5, 9, 9.9, "merged-tag")],
            "k long, grp long, amount double, tag string",
        ),
    )
    rows = {r.k: (r.grp, r.amount, r.tag) for r in lake.read_snapshot(spark, t).collect()}
    assert rows[5] == (9, 9.9, "merged-tag")
    assert rows[100] == (1, 1.0, "appended")  # untouched file survived
    assert rows[0] == (0, 0.0, None)


def test_merge_new_source_column_evolves_schema_with_meta(spark, tmp_path):
    """A NEW column arriving via MERGE is additive evolution: recorded in
    a meta action (visible to later snapshots), not silently dropped
    (round-13 ADVICE: the meta actions were discarded)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])
    lake.merge(
        spark,
        t,
        spark.createDataFrame(
            [(0, 9, -1.0, "via-merge")],
            "k long, grp long, amount double, note string",
        ),
    )
    snap = lake.snapshot(t)
    assert snap.schema.get("note") == "string", "merge meta action lost"
    rows = {r.k: r.note for r in lake.read_snapshot(spark, t).collect()}
    assert rows[0] == "via-merge"
    assert rows[1] is None


def test_cdf_across_schema_evolution(spark, tmp_path):
    """A CDF window spanning an additive-evolution commit must surface
    NULLs for the new column, not throw (round-13 ADVICE: unionByName
    without allowMissingColumns)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 5).coalesce(1), t, key_cols=["k"])
    lake.overwrite(
        spark.createDataFrame(
            [(50, 1, 1.0, "new")], "k long, grp long, amount double, tag string"
        ),
        t,
    )
    cdf = lake.table_changes(spark, t, 0, 1)
    got = {(r.k, r._change_type, r.tag) for r in cdf.collect()}
    assert (50, "insert", "new") in got
    assert (0, "delete", None) in got
    assert len(got) == 6  # 5 deletes + 1 insert


def test_corrupt_checkpoint_falls_back_to_log_replay(spark, tmp_path):
    """A checkpoint is an optimization, never truth: an unparseable one
    (crashed writer / bit rot) is skipped and the snapshot replays the
    full log (round-13 ADVICE: a corrupt checkpoint permanently broke
    snapshot())."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 20), t, key_cols=["k"])
    for i in range(11):
        lake.append(
            spark.createDataFrame(
                [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    cp = os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet")
    assert os.path.exists(cp)
    with open(cp, "wb") as f:
        f.write(b"PAR1 torn")  # torn write
    assert lake.read_snapshot(spark, t).count() == 31
    assert lake.read_snapshot(spark, t, 10).count() == 30


def test_put_if_absent_atomic_and_exclusive(tmp_path):
    """The commit primitive: full content or nothing, loser sees False,
    winner's bytes untouched, no temp residue."""
    st = lake.LocalFSStorage()
    p = str(tmp_path / "log" / "0.json")
    assert st.put_if_absent(p, b"winner\n") is True
    assert st.put_if_absent(p, b"loser\n") is False
    assert open(p, "rb").read() == b"winner\n"
    assert os.listdir(os.path.dirname(p)) == ["0.json"]  # no tmp files


def test_commit_log_entries_never_empty(spark, tmp_path):
    """Every published log entry is complete (commitInfo + actions) the
    instant its name exists — the property the os.link publish buys."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 5), t, key_cols=["k"])
    lake.append(_orders(spark, 3), t)
    log = os.path.join(t, "_log")
    for name in os.listdir(log):
        raw = open(os.path.join(log, name), "rb").read()
        assert raw, f"{name} is empty"
        json.loads(raw.splitlines()[0])


def test_storage_seam_routes_all_protocol_io(spark, tmp_path):
    """Every protocol I/O primitive — log list/read/put-if-absent,
    checkpoint put, data publish/delete/list — flows through the
    LakeStorage interface (VERDICT r13 #3)."""
    from collections import Counter

    class Spy(lake.LocalFSStorage):
        def __init__(self):
            self.calls = Counter()

        def list_names(self, dirpath):
            self.calls["list_names"] += 1
            return super().list_names(dirpath)

        def read_bytes(self, path):
            self.calls["read_bytes"] += 1
            return super().read_bytes(path)

        def put_if_absent(self, path, payload):
            self.calls["put_if_absent"] += 1
            return super().put_if_absent(path, payload)

        def put_atomic(self, path, payload):
            self.calls["put_atomic"] += 1
            return super().put_atomic(path, payload)

        def publish_file(self, src, dest):
            self.calls["publish_file"] += 1
            return super().publish_file(src, dest)

        def delete_file(self, path):
            self.calls["delete_file"] += 1
            return super().delete_file(path)

        def list_data_files(self, table):
            self.calls["list_data_files"] += 1
            return super().list_data_files(table)

    spy = Spy()
    prev = lake.set_storage(spy)
    try:
        t = str(tmp_path / "t")
        lake.create_table(_orders(spark, 50).repartition(2), t, key_cols=["k"])
        for i in range(10):  # crosses the checkpoint interval
            lake.append(
                spark.createDataFrame(
                    [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
                ),
                t,
            )
        lake.overwrite(_orders(spark, 5), t)
        assert lake.vacuum(t, keep_versions=1, min_age_seconds=0)
        assert lake.read_snapshot(spark, t).count() == 5
    finally:
        lake.set_storage(prev)
    for op in (
        "list_names",
        "read_bytes",
        "put_if_absent",
        "put_atomic",
        "publish_file",
        "delete_file",
        "list_data_files",
    ):
        assert spy.calls[op] > 0, f"{op} bypassed the storage seam"


def test_bounded_replay_reads_each_log_file_once(spark, tmp_path):
    """Bounded-replay I/O, counted at the storage seam: with a v10
    checkpoint, a snapshot reads the checkpoint and each tail commit
    once; file pruning, partition overwrite and MERGE past the checkpoint
    read no commit it covers and no log file twice; CDF admission control
    reads each commit it walks once."""
    from collections import Counter

    from zio_analytics_spark.sources.lakestream import _LakeCDFStreamReader

    class Spy(lake.LocalFSStorage):
        def __init__(self):
            self.reads = Counter()

        def read_bytes(self, path):
            if os.path.basename(os.path.dirname(path)) == "_log":
                self.reads[os.path.basename(path)] += 1
            return super().read_bytes(path)

    def commits_read():
        return {
            int(n[: -len(".json")]): c
            for n, c in spy.reads.items()
            if n.endswith(".json") and ".checkpoint" not in n
        }

    cp10 = f"{10:020d}.checkpoint.parquet"
    schema = "k long, region string, v double"
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(k, ["eu", "us"][k % 2], float(k)) for k in range(40)], schema
        ),
        t,
        key_cols=["k"],
        partition_by=["region"],
    )
    for i in range(12):  # v1..v12, one file each; checkpoint at v10
        lake.append(
            spark.createDataFrame([(100 + i, "us", 1.0)], schema), t
        )
    spy = Spy()
    prev = lake.set_storage(spy)
    try:
        assert lake.snapshot(t).version == 12
        assert dict(spy.reads) == {
            cp10: 1,
            f"{11:020d}.json": 1,
            f"{12:020d}.json": 1,
        }
        spy.reads.clear()
        assert lake.prune_files(spark, t, {"k": (0, 5)})
        assert commits_read() and min(commits_read()) > 10
        assert max(spy.reads.values()) <= 1
        spy.reads.clear()
        assert lake.overwrite_partitions(
            spark.createDataFrame([(900, "eu", -1.0)], schema), t
        ) == 13
        assert commits_read() and min(commits_read()) > 10
        assert max(spy.reads.values()) <= 1
        # v13 replaced every eu file: 11 and 12 fit under 2 files, and
        # v13 is read once to learn that it would exceed the cap
        reader = _LakeCDFStreamReader(
            {"path": t, "from_version": 10, "max_files_per_trigger": "2",
             "consumer_id": "spy"}
        )
        spy.reads.clear()
        assert reader.latestOffset() == {"version": 12}
        assert commits_read() == {11: 1, 12: 1, 13: 1}
        spy.reads.clear()
        assert lake.merge(
            spark, t, spark.createDataFrame([(3, "us", 7.0)], schema)
        ) == 14
        assert commits_read() and min(commits_read()) > 10
        assert max(spy.reads.values()) <= 1
    finally:
        lake.set_storage(prev)


def _partitioned(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 10.0).alias("amount"),
    )


def test_partitioned_layout_and_prune_plan(spark, tmp_path):
    """partition_by lays out hive dirs, records partition values in the
    add actions, and a predicate on the partition column reaches the
    scan as PartitionFilters (directory pruning — VERDICT r13 #4)."""
    import re

    t = str(tmp_path / "t")
    lake.create_table(
        _partitioned(spark), t, key_cols=["k"], partition_by=["bucket"]
    )
    assert {f"bucket={i}" for i in range(4)} <= set(os.listdir(t))
    snap = lake.snapshot(t)
    assert snap.partition_by == ["bucket"]
    for rel, a in snap.files.items():
        assert a["partition"]["bucket"] == int(rel.split("=")[1].split("/")[0])
    df = lake.read_snapshot(spark, t).where("bucket = 2").select("k", "bucket")
    assert df.count() == 50
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*bucket", plan), plan[:3000]


def test_partitioned_partition_key_stats_exact(spark, tmp_path):
    """A key column that IS a partition column gets exact (min==max)
    per-file stats from its directory value — merge pruning works off
    the layout itself."""
    t = str(tmp_path / "t")
    lake.create_table(
        _partitioned(spark), t, key_cols=["bucket", "k"], partition_by=["bucket"]
    )
    snap = lake.snapshot(t)
    for a in snap.files.values():
        st = a["stats"]["bucket"]
        assert st["min"] == st["max"] == a["partition"]["bucket"]
    before = set(snap.files)
    # a changeset confined to bucket 1 must leave other buckets' files alone
    lake.merge(
        spark,
        t,
        spark.createDataFrame(
            [(9999, 1, -1.0)], "k long, bucket long, amount double"
        ).select("bucket", "k", "amount"),
    )
    after = set(lake.snapshot(t).files)
    untouched = {p for p in before & after if "bucket=1" not in p}
    assert untouched == {p for p in before if "bucket=1" not in p}
    rows = {r.k: r.amount for r in lake.read_snapshot(spark, t).collect()}
    assert rows[9999] == -1.0 and rows[0] == 0.0


def test_partitioned_delete_compact_vacuum_time_travel(spark, tmp_path):
    """The full mutation surface preserves the hive layout: DELETE
    rewrites stay in their directories, compact keeps the layout, vacuum
    reclaims dereferenced files inside partition dirs, history replays."""
    t = str(tmp_path / "t")
    lake.create_table(
        _partitioned(spark).repartition(2), t, key_cols=["k"], partition_by=["bucket"]
    )
    lake.delete_where(spark, t, "bucket = 3 AND k < 100")  # v1
    assert lake.read_snapshot(spark, t).count() == 200 - 25
    lake.compact(spark, t, target_files=1)  # v2
    snap = lake.snapshot(t)
    assert all("bucket=" in p for p in snap.files)
    assert lake.read_snapshot(spark, t).count() == 175
    # time travel across the partitioned mutations
    assert lake.read_snapshot(spark, t, 0).count() == 200
    assert lake.read_snapshot(spark, t, 1).count() == 175
    doomed = lake.vacuum(t, keep_versions=1, min_age_seconds=0)
    assert doomed and all("bucket=" in p for p in doomed)
    assert lake.read_snapshot(spark, t).count() == 175


def test_partitioned_cdf_and_stream_append(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(
        _partitioned(spark, 40), t, key_cols=["k"], partition_by=["bucket"]
    )
    batch = spark.createDataFrame(
        [(100, 0, 5.0), (101, 1, 6.0)], "k long, bucket long, amount double"
    )
    assert lake.append_stream_batch(batch, t, batch_id=3) == 1
    assert lake.append_stream_batch(batch, t, batch_id=3) is None
    cdf = lake.table_changes(spark, t, 0, 1)
    got = {(r.k, r.bucket, r._change_type) for r in cdf.collect()}
    assert got == {(100, 0, "insert"), (101, 1, "insert")}


def test_streaming_cdf_source_exactly_once_restart(spark, tmp_path):
    """The lake_cdf streaming source: offsets are table versions, each
    micro-batch reads exactly the commit range's changed files, and a
    checkpointed restart resumes from the committed version — rows across
    both runs equal the batch CDF once each (exactly-once)."""
    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    lake.create_table(_orders(spark, 30).coalesce(1), t, key_cols=["k"])  # v0
    lake.append(
        spark.createDataFrame(
            [(100 + i, 9, 1.0) for i in range(5)], "k long, grp long, amount double"
        ).coalesce(1),
        t,
    )  # v1

    def drain():
        q = (
            spark.readStream.format("lake_cdf")
            .option("path", t)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drain()
    first = spark.read.parquet(sink)
    # from_version=0: only the APPEND after v0 is emitted, tagged v1
    assert {(r.k, r._change_type, r._commit_version) for r in first.collect()} == {
        (100 + i, "insert", 1) for i in range(5)
    }

    lake.delete_where(spark, t, "k = 5")  # v2: rewrites the v0 file
    lake.append(
        spark.createDataFrame([(200, 8, 2.0)], "k long, grp long, amount double"),
        t,
    )  # v3
    drain()  # restart from the checkpointed offset: emits (1, 3] only

    got = {
        (r.k, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    expect = {(100 + i, "insert", 1) for i in range(5)}
    expect |= {(k, "delete", 2) for k in range(30)}          # hit file's rows
    expect |= {(k, "insert", 2) for k in range(30) if k != 5}  # survivors
    expect |= {(200, "insert", 3)}
    assert got == expect
    # and the multiset (ignoring versions) equals the batch CDF
    batch = {
        (r.k, r._change_type)
        for r in lake.table_changes(spark, t, 0, 3).collect()
    }
    assert {(k, c) for k, c, _ in got} == batch


def test_streaming_cdf_partitioned_and_evolved(spark, tmp_path):
    """CDF stream edges: partition-directory values materialize in rows,
    pre-evolution files surface NULL for later columns, from_version
    skips history, and a meta-only commit range yields an empty batch."""
    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    lake.create_table(
        _partitioned(spark, 8), t, key_cols=["k"], partition_by=["bucket"]
    )  # v0
    lake.append(
        spark.createDataFrame(
            [(100, 1, 5.0, "tagged")],
            "k long, bucket long, amount double, tag string",
        ),
        t,
    )  # v1: adds the tag column (meta + add in one commit)
    lake.append(
        spark.createDataFrame(
            [(101, 2, 6.0)], "k long, bucket long, amount double"
        ),
        t,
    )  # v2: pre-evolution shape written post-evolution -> NULL tag

    def drain():
        q = (
            spark.readStream.format("lake_cdf")
            .option("path", t)
            .option("from_version", 0)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drain()
    rows = {
        r.k: (r.bucket, r.amount, r.tag, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    # v0 skipped (from_version=0 = changes AFTER v0)
    assert set(rows) == {100, 101}
    # partition value came from the directory; evolved column round-trips
    assert rows[100] == (1, 5.0, "tagged", "insert", 1)
    # file written without the evolved column surfaces NULL
    assert rows[101] == (2, 6.0, None, "insert", 2)


class _ObjectStoreSim(lake.LakeStorage):
    """Second LakeStorage implementation with OBJECT-STORE semantics —
    proves the protocol never depends on filesystem rename/link:
    * put_if_absent = conditional create (stand-in for S3 If-None-Match /
      GCS ifGenerationMatch=0), serialized like the store's own atomic PUT
    * put_atomic   = plain full-object PUT (overwrite)
    * publish_file = copy to the final key + delete the staged source
      (stores have no rename; copy-then-reference is the real pattern)
    """

    def __init__(self):
        import threading

        self._lock = threading.Lock()

    def list_names(self, dirpath):
        import os as _os

        return _os.listdir(dirpath)

    def read_bytes(self, path):
        with open(path, "rb") as f:
            return f.read()

    def put_if_absent(self, path, payload):
        import os as _os

        with self._lock:
            _os.makedirs(_os.path.dirname(path), exist_ok=True)
            if _os.path.exists(path):
                return False
            with open(path, "wb") as f:
                f.write(payload)
            return True

    def put_atomic(self, path, payload):
        import os as _os

        with self._lock:
            _os.makedirs(_os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(payload)

    def publish_file(self, src, dest):
        import os as _os
        import shutil as _shutil

        _os.makedirs(_os.path.dirname(dest), exist_ok=True)
        _shutil.copyfile(src, dest)  # copy, never rename
        _os.remove(src)

    def delete_file(self, path):
        import os as _os

        _os.remove(path)

    def delete_dir(self, path):
        import shutil as _shutil

        _shutil.rmtree(path, ignore_errors=True)

    def mtime(self, path):
        import os as _os

        return _os.path.getmtime(path)

    def list_data_files(self, table):
        import os as _os

        out = []
        for dirpath, dirnames, names in _os.walk(table):
            dirnames[:] = [
                d for d in dirnames if d != "_log" and not d.startswith("_stage-")
            ]
            for name in names:
                if name.startswith("part-") and name.endswith(".parquet"):
                    full = _os.path.join(dirpath, name)
                    out.append(
                        (_os.path.relpath(full, table), _os.path.getmtime(full))
                    )
        return out


def test_protocol_on_object_store_semantics(spark, tmp_path):
    """The full mutation surface (create/append/merge/delete/compact/
    vacuum/time-travel/CDF, on a PARTITIONED table) runs unchanged on a
    storage with no rename anywhere — the object-store contract the seam
    documents, exercised end to end against a second implementation."""
    prev = lake.set_storage(_ObjectStoreSim())
    try:
        t = str(tmp_path / "t")
        lake.create_table(
            _partitioned(spark, 100), t, key_cols=["k"], partition_by=["bucket"]
        )  # v0
        lake.append(
            spark.createDataFrame(
                [(200, 1, 9.0)], "k long, bucket long, amount double"
            ),
            t,
        )  # v1
        lake.merge(
            spark,
            t,
            spark.createDataFrame(
                [(0, 0, -1.0), (300, 3, 7.0)], "k long, bucket long, amount double"
            ).select("k", "bucket", "amount"),
        )  # v2: update k=0, insert k=300
        lake.delete_where(spark, t, "bucket = 2")  # v3
        lake.compact(spark, t, target_files=2)  # v4
        state = {r.k: r.amount for r in lake.read_snapshot(spark, t).collect()}
        assert len(state) == 100 + 2 - 25
        assert state[0] == -1.0 and state[200] == 9.0 and state[300] == 7.0
        assert 2 not in {r.bucket for r in lake.read_snapshot(spark, t).collect()}
        # history replays across all of it
        assert lake.read_snapshot(spark, t, 0).count() == 100
        assert lake.read_snapshot(spark, t, 2).count() == 102
        # CDF across the whole range works
        assert lake.table_changes(spark, t, 0, 3).count() > 0
        # vacuum reclaims dereferenced files through the seam
        assert lake.vacuum(t, keep_versions=1, min_age_seconds=0)
        assert lake.read_snapshot(spark, t).count() == 77
        # conflict signal still works without O_EXCL
        lake._commit(t, 5, [], "APPEND")
        with pytest.raises(lake.ConcurrentCommitError):
            lake._commit(t, 5, [], "APPEND")
    finally:
        lake.set_storage(prev)


def test_vacuum_sweeps_crash_residue(spark, tmp_path):
    """Crashed writers leave temp log files and staging dirs; vacuum
    reclaims both under the same age guard (fresh residue survives — it
    may belong to a live writer)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    # simulate a writer that died mid-publish
    stale_tmp = os.path.join(t, "_log", f"{1:020d}.json.tmp-deadbeef")
    with open(stale_tmp, "w") as f:
        f.write("half a payload")
    stale_stage = os.path.join(t, "_stage-deadbeef")
    os.makedirs(stale_stage)
    with open(os.path.join(stale_stage, "part-x.parquet"), "wb") as f:
        f.write(b"junk")
    # young residue is protected by the default guard
    lake.vacuum(t, keep_versions=1)
    assert os.path.exists(stale_tmp) and os.path.isdir(stale_stage)
    # old residue is reclaimed
    lake.vacuum(t, keep_versions=1, min_age_seconds=0)
    assert not os.path.exists(stale_tmp)
    assert not os.path.isdir(stale_stage)
    # the table is untouched
    assert lake.read_snapshot(spark, t).count() == 10


def test_streaming_cdf_lagging_past_retention_fails_loudly(spark, tmp_path):
    """A CDF stream lagging past vacuum retention must FAIL on the
    reclaimed file, never emit a silently-empty batch — the documented
    retention contract."""
    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])  # v0
    lake.overwrite(_orders(spark, 5), t)  # v1: dereferences the v0 file
    lake.overwrite(_orders(spark, 3), t)  # v2
    lake.vacuum(t, keep_versions=1, min_age_seconds=0)  # reclaims v0+v1 files

    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(Exception):
        q.processAllAvailable()
        raise AssertionError("lagging stream read a vacuumed file silently")
    q.stop()


def test_merge_prunes_on_any_key_column(spark, tmp_path):
    """Multi-key pruning: files overlapping the changeset on the FIRST
    key but disjoint on the SECOND survive by reference — a row can only
    match when ALL key columns are equal."""
    t = str(tmp_path / "t")
    df = spark.range(400).select(
        (F.col("id") % 2).alias("region"),       # k0: only 2 values — useless alone
        F.col("id").alias("k"),                  # k1: the discriminating key
        (F.col("id") * 1.0).alias("v"),
    )
    lake.create_table(
        df.repartitionByRange(4, "k"), t, key_cols=["region", "k"]
    )
    before = set(lake.snapshot(t).files)
    # changeset: region values {0,1} overlap EVERY file's region range,
    # but k is confined to 0..5 — only the lowest range file is touched
    lake.merge(
        spark,
        t,
        spark.createDataFrame(
            [(0, 2, -1.0), (1, 5, -2.0)], "region long, k long, v double"
        ),
    )
    survivors = before & set(lake.snapshot(t).files)
    assert len(survivors) >= 2, "second-key disjoint files were rewritten"
    rows = {r.k: r.v for r in lake.read_snapshot(spark, t).collect()}
    assert rows[2] == -1.0 and rows[5] == -2.0 and rows[399] == 399.0


def test_overwrite_partitions_dynamic(spark, tmp_path):
    """Dynamic partition overwrite replaces exactly the partitions in the
    incoming data; others survive by reference, history stays readable."""
    t = str(tmp_path / "t")
    lake.create_table(
        _partitioned(spark, 160), t, key_cols=["k"], partition_by=["bucket"]
    )  # buckets 0..3, 40 rows each
    before = set(lake.snapshot(t).files)
    v = lake.overwrite_partitions(
        spark.createDataFrame(
            [(1000, 1, -1.0), (1001, 2, -2.0)],
            "k long, bucket long, amount double",
        ),
        t,
    )
    assert v == 1
    snap = lake.snapshot(t)
    untouched = {p for p in before if "bucket=0" in p or "bucket=3" in p}
    assert untouched <= set(snap.files), "untouched partitions were rewritten"
    assert not any(
        p in snap.files for p in before if "bucket=1" in p or "bucket=2" in p
    ), "replaced partitions still reference old files"
    rows = {r.k for r in lake.read_snapshot(spark, t).collect()}
    assert rows == set(range(0, 160, 4)) | set(range(3, 160, 4)) | {1000, 1001}
    # time travel to the pre-overwrite state
    assert lake.read_snapshot(spark, t, 0).count() == 160
    # unpartitioned tables reject the op loudly
    t2 = str(tmp_path / "t2")
    lake.create_table(_orders(spark, 10), t2, key_cols=["k"])
    with pytest.raises(ValueError, match="not partitioned"):
        lake.overwrite_partitions(_orders(spark, 5), t2)


def test_merge_missing_key_column_fails_loudly(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    bad = spark.createDataFrame([(1, 1.0)], "grp long, amount double")
    with pytest.raises(ValueError, match="missing key columns"):
        lake.merge(spark, t, bad)
    assert lake.latest_version(t) == 0


def test_merge_preserves_unmentioned_columns(spark, tmp_path):
    """A partial-column merge (source lacks a non-key table column) must
    PRESERVE the target's current values for that column on matched rows
    (updateAll-by-name), never NULL them out (round-14 review)."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(i, float(i), f"tag{i}") for i in range(10)],
            "k long, amount double, tag string",
        ).coalesce(1),
        t,
        key_cols=["k"],
    )
    lake.merge(
        spark,
        t,
        spark.createDataFrame([(3, -1.0), (100, 5.0)], "k long, amount double"),
    )
    rows = {r.k: (r.amount, r.tag) for r in lake.read_snapshot(spark, t).collect()}
    assert rows[3] == (-1.0, "tag3"), "matched row's unmentioned column erased"
    assert rows[100] == (5.0, None)  # insert: no prior value to preserve
    assert rows[0] == (0.0, "tag0")


def test_partitioned_append_missing_partition_col_fails(spark, tmp_path):
    """Writes into a partitioned table must carry the partition columns —
    silently writing root-level files corrupts partition discovery."""
    t = str(tmp_path / "t")
    lake.create_table(
        _partitioned(spark, 40), t, key_cols=["k"], partition_by=["bucket"]
    )
    bad = spark.createDataFrame([(100, 1.0)], "k long, amount double")
    with pytest.raises(ValueError, match="partition columns"):
        lake.append(bad, t)
    with pytest.raises(ValueError, match="partition columns"):
        lake.append_stream_batch(bad, t, batch_id=1)
    assert lake.latest_version(t) == 0
    assert lake.read_snapshot(spark, t).count() == 40


def test_date_partitioned_stats_and_merge_pruning(spark, tmp_path):
    """DATE partition values survive the JSON log as ISO strings and
    still drive pruning (ISO order == chronological order); merge with
    datetime.date bounds must not crash comparing against them."""
    import datetime as dt

    t = str(tmp_path / "t")
    df = spark.range(90).selectExpr(
        "id AS k",
        "date_add(date'2026-01-01', cast(id % 3 AS INT)) AS day",
        "cast(id AS DOUBLE) AS v",
    )
    lake.create_table(df, t, key_cols=["day", "k"], partition_by=["day"])
    snap = lake.snapshot(t)
    for a in snap.files.values():
        st = a["stats"]["day"]
        assert isinstance(st["min"], str) and st["min"].startswith("2026-01-")
    before = set(snap.files)
    # changeset confined to one day: the other two days' files survive
    lake.merge(
        spark,
        t,
        spark.createDataFrame(
            [(dt.date(2026, 1, 2), 1, -1.0)], "day date, k long, v double"
        ),
    )
    after = set(lake.snapshot(t).files)
    untouched = {p for p in before if "day=2026-01-02" not in p}
    assert untouched <= after, "date-disjoint partitions were rewritten"
    rows = {r.k: r.v for r in lake.read_snapshot(spark, t).collect()}
    assert rows[1] == -1.0 and rows[0] == 0.0


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE keeps rows whose predicate evaluates to NULL."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(1, "x"), (2, None), (3, "y")], "k long, tag string"
        ).coalesce(1),
        t,
        key_cols=["k"],
    )
    lake.delete_where(spark, t, "tag = 'x'")
    rows = {r.k: r.tag for r in lake.read_snapshot(spark, t).collect()}
    assert rows == {2: None, 3: "y"}, "NULL-predicate row was deleted"


def test_streaming_cdf_date_partition_typed(spark, tmp_path):
    """Date partition values reach the CDF stream as real DATEs, not the
    ISO strings the JSON log stores."""
    import datetime as dt

    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    df0 = spark.range(4).selectExpr(
        "id AS k", "date'2026-01-01' AS day", "cast(id AS DOUBLE) AS v"
    )
    lake.create_table(df0, t, key_cols=["k"], partition_by=["day"])
    lake.append(
        spark.range(4, 6).selectExpr(
            "id AS k", "date'2026-02-03' AS day", "cast(id AS DOUBLE) AS v"
        ),
        t,
    )
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.k, r.day) for r in spark.read.parquet(sink).collect()}
    assert got == {(4, dt.date(2026, 2, 3)), (5, dt.date(2026, 2, 3))}


# --------------------------------------------------------------------- #
# round-15 ADVICE regressions


def test_partition_value_type_fidelity(spark, tmp_path):
    """A STRING partition value that parses as a number ('00123') must
    round-trip as the recorded string — snapshot reads carry the table's
    recorded schema, so Spark's directory-value inference (which would
    read it back as int 123, silently changing type AND value) never
    runs; and rewrite paths re-staging through the read keep the hive
    layout on the original value (round-14 ADVICE, medium)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("00123", 1, 1.0), ("7", 2, 2.0)], "code string, k long, amount double"
    )
    lake.create_table(df, t, key_cols=["k"], partition_by=["code"])
    snap = lake.read_snapshot(spark, t)
    assert dict(snap.dtypes)["code"] == "string"
    assert {r.k: r.code for r in snap.collect()} == {1: "00123", 2: "7"}
    # a rewrite path (MERGE) re-stages through the same read: the hive
    # layout must stay on the written string, not an int-drifted '123'
    lake.merge(
        spark,
        t,
        spark.createDataFrame([("00123", 1, 9.0)], "code string, k long, amount double"),
    )
    rows = {(r.code, r.k, r.amount) for r in lake.read_snapshot(spark, t).collect()}
    assert rows == {("00123", 1, 9.0), ("7", 2, 2.0)}
    assert os.path.isdir(os.path.join(t, "code=00123"))
    assert not os.path.isdir(os.path.join(t, "code=123"))


def test_merge_preserve_no_fanout_on_duplicate_keys(spark, tmp_path):
    """Partial-column MERGE against a target whose touched files carry a
    DUPLICATE key (possible via blind append): the preserve-columns join
    must not fan the source row out — the upsert contract emits exactly
    one row per matched key (round-14 ADVICE)."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(1, 10.0, "x"), (2, 20.0, "y")], "k long, a double, b string"
        ),
        t,
        key_cols=["k"],
    )
    lake.append(
        spark.createDataFrame([(1, 11.0, "x2")], "k long, a double, b string"), t
    )  # blind append: duplicate key 1
    lake.merge(spark, t, spark.createDataFrame([(1, 99.0)], "k long, a double"))
    rows = lake.read_snapshot(spark, t).where("k = 1").collect()
    assert len(rows) == 1
    assert rows[0].a == 99.0
    assert rows[0].b in ("x", "x2")  # preserved from the current target


def test_vacuum_spares_live_staging_tree(spark, tmp_path):
    """Vacuum ages a staging dir by the NEWEST mtime anywhere in its
    tree: a partitioned Spark job touches the top dir at start but keeps
    writing nested files — an old top-level mtime alone must not reclaim
    a live writer's tree (round-14 ADVICE)."""
    import time as _time

    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t, key_cols=["k"])
    stage = os.path.join(t, "_stage-live")
    os.makedirs(os.path.join(stage, "p=1"))
    fresh = os.path.join(stage, "p=1", "part-x.parquet")
    with open(fresh, "wb") as f:
        f.write(b"x")
    old = _time.time() - 7200
    os.utime(stage, (old, old))  # job started long ago; writes continue
    lake.vacuum(t, min_age_seconds=3600)
    assert os.path.isdir(stage), "live staging tree was reclaimed mid-job"
    for p in (fresh, os.path.join(stage, "p=1"), stage):
        os.utime(p, (old, old))
    lake.vacuum(t, min_age_seconds=3600)
    assert not os.path.exists(stage)


def test_reads_route_through_storage_seam(spark, tmp_path):
    """Every snapshot-read path resolves data-file URIs via
    LakeStorage.resolve_read_path — the storage owns the rel-path →
    reader-URI mapping (round-14 ADVICE)."""

    class _Counting(lake.LocalFSStorage):
        def __init__(self):
            self.calls = 0

        def resolve_read_path(self, table, rel):
            self.calls += 1
            return super().resolve_read_path(table, rel)

    st = _Counting()
    prev = lake.set_storage(st)
    try:
        t = str(tmp_path / "t")
        lake.create_table(_orders(spark, 10).repartition(2), t, key_cols=["k"])
        st.calls = 0
        assert lake.read_snapshot(spark, t).count() == 10
        assert st.calls >= 2  # one per data file
    finally:
        lake.set_storage(prev)


def test_lake_cdf_stream_timestamp_column(spark, tmp_path):
    """A TIMESTAMP column flows through the CDF stream's Arrow-batch
    path intact (stored parquet micros, tz-aware in Arrow, UTC session):
    the one type whose naive-vs-UTC handoff could silently shift
    values."""
    import datetime as dt

    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    lake.create_table(
        spark.createDataFrame(
            [(0, dt.datetime(2026, 1, 1, 12, 0, 0))], "k long, ts timestamp"
        ),
        t,
        key_cols=["k"],
    )
    lake.append(
        spark.createDataFrame(
            [(1, dt.datetime(2026, 3, 4, 5, 6, 7))], "k long, ts timestamp"
        ),
        t,
    )
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.k, r.ts, r._change_type) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, dt.datetime(2026, 3, 4, 5, 6, 7), "insert")}


def test_cdf_arrow_and_row_paths_agree(spark, tmp_path):
    """The Arrow-batch fast path and the per-row fallback emit identical
    rows — on a table exercising every synthesis case at once: stored
    columns, a hive partition value, and an evolved-schema NULL."""
    import pyarrow.parquet as pq

    from zio_analytics_spark.sources.lakestream import _LakeCDFStreamReader

    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 2.0)], "k long, bucket long, amount double"
        ),
        t,
        key_cols=["k"],
        partition_by=["bucket"],
    )
    lake.append(
        spark.createDataFrame(
            [(2, 1, 3.0, "tagged")], "k long, bucket long, amount double, tag string"
        ),
        t,
    )  # evolves schema
    lake.append(
        spark.createDataFrame([(3, 2, 4.0)], "k long, bucket long, amount double"), t
    )  # pre-evolution shape post-evolution -> NULL tag
    reader = _LakeCDFStreamReader({"path": t, "from_version": 0})
    parts = reader.partitions({"version": 0}, {"version": lake.latest_version(t)})
    via_arrow, via_rows = set(), set()
    for p in parts:
        if p.path is None:
            continue
        for out in reader.read(p):
            assert hasattr(out, "num_rows"), "fast path did not emit RecordBatch"
            for row in out.to_pylist():
                via_arrow.add(tuple(row.values()))
        tbl = pq.read_table(
            p.path, columns=[c for c in reader.columns if c in reader._file_cols(p.path)]
        )
        via_rows.update(reader._read_rows(tbl, p))
    assert via_arrow == via_rows
    assert len(via_arrow) == 2  # k=2 (v1), k=3 (v2)


def test_cdf_arrow_batch_throughput(spark, tmp_path):
    """Round-14 verdict pin: on a wide table the Arrow-batch emission is
    >=5x the per-row tuple path — the RecordBatch is yielded columnar,
    never re-tupled through Python row by row."""
    import time as _time

    import pyarrow.parquet as pq

    from zio_analytics_spark.sources.lakestream import _LakeCDFStreamReader

    t = str(tmp_path / "t")
    wide = spark.range(40_000).selectExpr(
        "id AS k", *[f"cast(id * {i} AS DOUBLE) AS c{i}" for i in range(30)]
    )
    lake.create_table(wide.limit(1).coalesce(1), t, key_cols=["k"])
    lake.append(wide.coalesce(1), t)  # v1: the timed changed file
    reader = _LakeCDFStreamReader({"path": t, "from_version": 0})
    parts = [
        p
        for p in reader.partitions({"version": 0}, {"version": 1})
        if p.path is not None
    ]
    assert len(parts) == 1
    part = parts[0]
    t0 = _time.perf_counter()
    n_arrow = sum(b.num_rows for b in reader.read(part))
    arrow_sec = _time.perf_counter() - t0
    tbl = pq.read_table(
        part.path, columns=[c for c in reader.columns if c in reader._file_cols(part.path)]
    )
    t0 = _time.perf_counter()
    n_rows = sum(1 for _ in reader._read_rows(tbl, part))
    rows_sec = _time.perf_counter() - t0
    assert n_arrow == n_rows == 40_000
    # arrow time includes its own parquet read; the row path was handed
    # the table pre-read — the margin is conservative
    assert rows_sec / arrow_sec >= 5, (rows_sec, arrow_sec)


def test_table_changes_net(spark, tmp_path):
    """net=True row-grain CDF: rewritten-but-unchanged rows VANISH, real
    updates surface as update_preimage/update_postimage pairs, deletes
    and inserts keep their types, and a COMPACT commit nets to ZERO."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100).repartition(2), t, key_cols=["k"])
    src = spark.createDataFrame(
        [(0, 9, -1.0), (50, 9, -2.0), (99, 9, -3.0), (200, 9, 1.0), (201, 9, 2.0)],
        "k long, grp long, amount double",
    )
    lake.merge(spark, t, src)  # v1: 3 updates + 2 inserts, ~100 rows rewritten
    lake.delete_where(spark, t, "grp = 3")  # v2: 20 deletes, survivors rewritten
    lake.compact(spark, t, target_files=2)  # v3: pure layout change
    by: dict = {}
    for r in lake.table_changes(spark, t, 0, net=True).collect():
        by.setdefault((r._commit_version, r._change_type), set()).add(
            (r.k, r.grp, r.amount)
        )
    assert by[(1, "insert")] == {(200, 9, 1.0), (201, 9, 2.0)}
    assert by[(1, "update_preimage")] == {(0, 0, 0.0), (50, 0, 500.0), (99, 4, 990.0)}
    assert by[(1, "update_postimage")] == {(0, 9, -1.0), (50, 9, -2.0), (99, 9, -3.0)}
    assert (1, "delete") not in by  # ~97 rewritten-but-unchanged rows vanished
    assert by[(2, "delete")] == {
        (k, 3, k * 10.0) for k in range(100) if k % 5 == 3
    }
    assert all(ct == "delete" for cv, ct in by if cv == 2)
    assert not any(cv == 3 for cv, _ct in by), "COMPACT must net to zero"


def test_table_changes_net_requires_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10), t)  # no key_cols
    with pytest.raises(ValueError, match="key_cols"):
        lake.table_changes(spark, t, 0, net=True)


def test_lake_cdf_stream_net(spark, tmp_path):
    """The lake_cdf stream's net option matches table_changes(net=True):
    one partitioned table, a MERGE (update+insert) and a COMPACT — the
    stream emits exactly the row-level net changes, nothing from the
    compact, partition values materialized from the hive dirs."""
    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    lake.create_table(
        spark.createDataFrame(
            [(k, k % 3, float(k)) for k in range(30)],
            "k long, bucket long, amount double",
        ),
        t,
        key_cols=["k"],
        partition_by=["bucket"],
    )
    lake.merge(
        spark,
        t,
        spark.createDataFrame(
            [(7, 1, -7.0), (100, 2, 100.0)], "k long, bucket long, amount double"
        ),
    )  # v1: update k=7, insert k=100
    lake.compact(spark, t, target_files=1)  # v2: nets to zero
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .option("net", "true")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.k, r.bucket, r.amount, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {
        (100, 2, 100.0, "insert", 1),
        (7, 1, 7.0, "update_preimage", 1),
        (7, 1, -7.0, "update_postimage", 1),
    }


def test_prune_files_distributed_matches_driver(spark, tmp_path):
    """prune_files over a parquet checkpoint (Spark-side stats predicate
    + driver tail replay) returns exactly the full driver-replay answer,
    with tail adds and removes applied on top of the checkpoint."""
    t = str(tmp_path / "t")
    lake.create_table(
        _orders(spark, 1000).repartitionByRange(8, "k"), t, key_cols=["k"]
    )
    for i in range(12):  # crosses the v10 checkpoint
        lake.append(
            spark.createDataFrame(
                [(2000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    assert os.path.exists(os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet"))
    ranges = {"k": (100, 260)}
    got = lake.prune_files(spark, t, ranges)
    snap = lake.snapshot(t)
    want = {
        p
        for p, a in snap.files.items()
        if not (
            a.get("stats", {}).get("k")
            and lake._stats_disjoint(a["stats"]["k"], 100, 260)
        )
    }
    assert set(got) == want
    assert 0 < len(got) < len(snap.files)  # it actually pruned something
    # a tail REMOVE (rewrite-mode delete) and a tail RE-ADD of a live
    # path carrying a deletion vector, both inside the pruned range
    lake.delete_where(spark, t, "k = 150")
    lake.delete_where(spark, t, "k = 200", deletion_vectors=True)
    assert lake.latest_version(t) == 14
    got = lake.prune_files(spark, t, ranges)
    snap = lake.snapshot(t)
    want = {
        p
        for p, a in snap.files.items()
        if not (
            a.get("stats", {}).get("k")
            and lake._stats_disjoint(a["stats"]["k"], 100, 260)
        )
    }
    assert set(got) == want
    assert any(snap.files[p].get("dv") for p in got)
    assert 0 < len(got) < len(snap.files)


def test_merge_bounded_driver_past_checkpoint(spark, tmp_path):
    """MERGE on a checkpointed table: meta-only snapshot + distributed
    prune — correct result, untouched range files survive by
    reference."""
    t = str(tmp_path / "t")
    lake.create_table(
        _orders(spark, 1000).repartitionByRange(8, "k"), t, key_cols=["k"]
    )
    for i in range(10):
        lake.append(
            spark.createDataFrame(
                [(3000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    before = set(lake.snapshot(t).files)
    changes = spark.createDataFrame(
        [(3, 7, 0.5), (4, 7, 0.5)], "k long, grp long, amount double"
    )
    lake.merge(spark, t, changes)
    after = set(lake.snapshot(t).files)
    assert len(before & after) >= 6, "files outside the changeset were rewritten"
    st = _state(spark, t)
    assert st[3] == (7, 0.5) and st[4] == (7, 0.5) and st[999] == (4, 9990.0)
    assert len(st) == 1010


def test_prune_files_50k_file_model(spark, tmp_path):
    """Round-14 verdict #4 model test: a synthetic 50k-file parquet
    checkpoint prunes IN SPARK — the driver materializes only the
    touched list (two paths here), never 50k add actions; a meta-only
    snapshot resolves without parsing the file rows at all; and the
    post-checkpoint tail's adds/removes land on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    os.makedirs(os.path.join(t, "_log"))
    schema = {"k": "bigint", "v": "double"}
    meta = {"key_cols": ["k"], "schema": schema, "partition_by": []}
    with open(os.path.join(t, "_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"version": 0, "operation": "CREATE"}}) + "\n")
        f.write(json.dumps({"meta": meta}) + "\n")
    n = 50_000
    paths = [f"part-{i:05d}.parquet" for i in range(n)]
    adds = [
        json.dumps(
            {
                "path": p,
                "rows": 100,
                "stats": {"k": {"min": 100 * i, "max": 100 * i + 99}},
            }
        )
        for i, p in enumerate(paths)
    ]
    tbl = pa.table(
        [pa.array(paths, pa.string()), pa.array(adds, pa.string())],
        names=["path", "add_json"],
    ).replace_schema_metadata(
        {b"lake.checkpoint.meta": json.dumps(meta).encode("utf-8")}
    )
    pq.write_table(tbl, os.path.join(t, "_log", f"{0:020d}.checkpoint.parquet"))
    with open(os.path.join(t, "_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"version": 1, "operation": "MERGE"}}) + "\n")
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": "part-extra.parquet",
                        "rows": 5,
                        "stats": {"k": {"min": 150, "max": 160}},
                    }
                }
            )
            + "\n"
        )
        f.write(json.dumps({"remove": {"path": "part-00001.parquet"}}) + "\n")
    # meta-only snapshot: no file parsing, loud None for files
    snap = lake.snapshot(t, with_files=False)
    assert snap.files is None and snap.schema == schema
    got = lake.prune_files(spark, t, {"k": (150, 260)})
    # touched: file 1 (100..199, removed in the tail), file 2 (200..299),
    # and the tail add (150..160); 49,997 files pruned Spark-side
    assert got == ["part-00002.parquet", "part-extra.parquet"]


def test_prune_files_distributed_with_date_keys(spark, tmp_path):
    """The DISTRIBUTED prune path (parquet checkpoint + Spark predicate)
    with a DATE key: JSON-logged ISO stat strings cast to date compare
    against typed date literals — chronological, never lexicographic-
    numeric drift."""
    import datetime as dt

    t = str(tmp_path / "t")
    df = spark.range(300).selectExpr(
        "id AS k",
        "date_add(date'2026-01-01', cast(id % 30 AS INT)) AS day",
        "cast(id AS DOUBLE) AS v",
    )
    lake.create_table(
        df.repartitionByRange(6, "day"), t, key_cols=["day"]
    )
    for i in range(11):  # cross the v10 checkpoint
        lake.append(
            spark.createDataFrame(
                [(1000 + i, dt.date(2026, 3, 1), 0.0)],
                "k long, day date, v double",
            ),
            t,
        )
    assert os.path.exists(os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet"))
    got = set(
        lake.prune_files(
            spark, t, {"day": (dt.date(2026, 1, 5), dt.date(2026, 1, 9))}
        )
    )
    snap = lake.snapshot(t)
    want = {
        p
        for p, a in snap.files.items()
        if not (
            a.get("stats", {}).get("day")
            and lake._stats_disjoint(
                a["stats"]["day"], dt.date(2026, 1, 5), dt.date(2026, 1, 9)
            )
        )
    }
    assert got == want
    assert 0 < len(got) < len(snap.files)


def test_read_snapshot_stats_skip(spark, tmp_path):
    """read-path data skipping: a key-range read drops files whose
    recorded stats prove disjointness — same rows as the full scan +
    predicate, measurably fewer files in the plan."""
    t = str(tmp_path / "t")
    lake.create_table(
        _orders(spark, 1000).repartitionByRange(8, "k"), t, key_cols=["k"]
    )
    pruned = lake.read_snapshot(spark, t, key_ranges={"k": (100, 260)})
    want = {
        r.k: (r.grp, r.amount)
        for r in lake.read_snapshot(spark, t)
        .where("k BETWEEN 100 AND 260")
        .collect()
    }
    got = {
        r.k: (r.grp, r.amount)
        for r in pruned.where("k BETWEEN 100 AND 260").collect()
    }
    assert got == want and len(got) == 161
    # the skip dropped whole files from the scan
    n_scanned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_scanned < len(lake.snapshot(t).files)
    # disjoint range: empty frame, schema intact
    empty = lake.read_snapshot(spark, t, key_ranges={"k": (10_000, 20_000)})
    assert empty.count() == 0
    assert empty.columns == ["k", "grp", "amount"]


def test_overwrite_partitions_distributed_past_checkpoint(spark, tmp_path):
    """Dynamic partition overwrite on a CHECKPOINTED table: the replaced
    partitions' remove set resolves IN SPARK over the checkpoint rows
    (meta-only snapshot on the driver), tail commits included; other
    partitions survive by reference."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, ["eu", "us", "ap"][k % 3], float(k)) for k in range(90)],
        "k long, region string, v double",
    )
    lake.create_table(df, t, key_cols=["k"], partition_by=["region"])
    for i in range(10):  # cross the v10 checkpoint
        lake.append(
            spark.createDataFrame(
                [(1000 + i, "eu", 1.0)], "k long, region string, v double"
            ),
            t,
        )
    # tail commit AFTER the checkpoint adds another eu file
    lake.append(
        spark.createDataFrame(
            [(2000, "eu", 2.0)], "k long, region string, v double"
        ),
        t,
    )
    # tail REMOVE (rewrite-mode delete) and tail RE-ADDs of live paths
    # with deletion vectors, in the replaced and a surviving partition
    lake.delete_where(spark, t, "k = 3")
    lake.delete_where(spark, t, "k = 6", deletion_vectors=True)
    lake.delete_where(spark, t, "k = 2", deletion_vectors=True)
    before = dict(lake.snapshot(t).files)
    assert any(a.get("dv") for a in before.values())
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(9000, "eu", -1.0)], "k long, region string, v double"
        ),
        t,
    )
    snap = lake.snapshot(t)
    # every eu file (checkpoint-era AND tail-era) was replaced
    eu_now = {
        p for p, a in snap.files.items() if a["partition"]["region"] == "eu"
    }
    assert len(eu_now) >= 1
    assert not (eu_now & set(before)), "stale eu files survived the overwrite"
    # us/ap survive by reference
    others_before = {
        p for p, a in before.items() if a["partition"]["region"] != "eu"
    }
    assert others_before <= set(snap.files)
    rows = {(r.region, r.k) for r in lake.read_snapshot(spark, t).collect()}
    assert ("eu", 9000) in rows
    assert not any(reg == "eu" and k != 9000 for reg, k in rows)
    assert sum(1 for reg, _ in rows if reg == "us") == 30
    assert sum(1 for reg, _ in rows if reg == "ap") == 29
    assert ("ap", 2) not in rows


def test_rolled_checkpoint_equals_snapshot_state(spark, tmp_path):
    """The v20 checkpoint is ROLLED from v10's (streamed batches + tail
    actions, never a materialized file list) across a remove-heavy tail
    (merge rewrite + delete + schema evolution) — its state must be
    byte-equivalent to the replayed snapshot, and later resolution must
    start from it."""
    t = str(tmp_path / "t")
    lake.create_table(
        _orders(spark, 200).repartitionByRange(4, "k"), t, key_cols=["k"]
    )
    for i in range(12):  # v1..v12 (checkpoint at 10: snapshot-based)
        lake.append(
            spark.createDataFrame(
                [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    lake.merge(  # v13: rewrites low-range files (removes + adds)
        spark,
        t,
        spark.createDataFrame([(3, 9, -3.0)], "k long, grp long, amount double"),
    )
    lake.delete_where(spark, t, "grp = 2")  # v14: removes + survivor adds
    lake.append(  # v15: additive schema evolution in the tail
        spark.createDataFrame(
            [(5000, 0, 1.0, "x")], "k long, grp long, amount double, tag string"
        ),
        t,
    )
    for i in range(5):  # v16..v20 (checkpoint at 20: ROLLED from v10)
        lake.append(
            spark.createDataFrame(
                [(2000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    assert os.path.exists(os.path.join(t, "_log", f"{20:020d}.checkpoint.parquet"))
    state = lake._load_checkpoint(t, 20)
    snap20 = lake.snapshot(t, 20)
    assert {a["path"]: a for a in state["files"]} == snap20.files
    assert state["schema"] == snap20.schema  # evolution rode the roll
    assert state["key_cols"] == ["k"]
    # resolution from the rolled checkpoint: delete v10's so v20 is the base
    os.remove(os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet"))
    assert lake.snapshot(t).files == lake.snapshot(t, 20).files
    rows = {r.k for r in lake.read_snapshot(spark, t).collect()}
    assert 5000 in rows and 3 in rows


def test_overwrite_partitions_double_partition_values(spark, tmp_path):
    """Round-15 ADVICE: a float/double partition value >= 1e7 renders
    '12345678.5' via Python json.dumps but '1.23456785E7' via Spark's
    get_json_object (Jackson), so the checkpoint-distributed partition
    match could never hit and stale files would silently survive —
    float/double partition columns must route to the driver replay,
    which uses _partition_key on both sides."""
    t = str(tmp_path / "t")
    big = 12345678.5  # >= 1e7: the Jackson scientific-notation regime
    df = spark.createDataFrame(
        [(k, big if k % 2 else 2.5, float(k)) for k in range(40)],
        "k long, b double, v double",
    )
    lake.create_table(df, t, key_cols=["k"], partition_by=["b"])
    for i in range(10):  # cross the v10 checkpoint: distributed leg eligible
        lake.append(
            spark.createDataFrame(
                [(1000 + i, big, 1.0)], "k long, b double, v double"
            ),
            t,
        )
    before = dict(lake.snapshot(t).files)
    lake.overwrite_partitions(
        spark.createDataFrame([(9000, big, -1.0)], "k long, b double, v double"),
        t,
    )
    snap = lake.snapshot(t)
    stale = {p for p, a in before.items() if a["partition"]["b"] == big}
    assert stale, "test setup: expected live files in the big-double partition"
    assert not (stale & set(snap.files)), (
        "stale double-partition files survived the overwrite"
    )
    rows = {(r.b, r.k) for r in lake.read_snapshot(spark, t).collect()}
    assert (big, 9000) in rows
    assert not any(b == big and k != 9000 for b, k in rows)
    assert sum(1 for b, _ in rows if b == 2.5) == 20


def test_prune_files_corrupt_checkpoint_falls_back(spark, tmp_path):
    """Round-15 ADVICE: a checkpoint whose bytes no longer parse must be
    SKIPPED by the distributed pruning legs (checkpoints are purely an
    optimization) — prune_files degrades to the driver replay and MERGE
    still lands."""
    t = str(tmp_path / "t")
    lake.create_table(
        _orders(spark, 200).repartitionByRange(4, "k"), t, key_cols=["k"]
    )
    for i in range(10):
        lake.append(
            spark.createDataFrame(
                [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    cp = os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet")
    assert os.path.exists(cp)
    good = sorted(lake.prune_files(spark, t, {"k": (0, 49)}))
    with open(cp, "wb") as f:  # bit rot: footer no longer parses
        f.write(b"\x00" * 256)
    assert sorted(lake.prune_files(spark, t, {"k": (0, 49)})) == good
    lake.merge(
        spark,
        t,
        spark.createDataFrame([(3, 9, -3.0)], "k long, grp long, amount double"),
    )
    assert [
        r.amount
        for r in lake.read_snapshot(spark, t).where("k = 3").collect()
    ] == [-3.0]


def test_distributed_leg_failure_falls_back_to_driver(spark, tmp_path, monkeypatch):
    """A checkpoint that VALIDATES (footer + meta key) can still fail
    mid-scan (corrupt row pages, transient storage error): the
    distributed legs of prune_files and _partition_matched_files must
    degrade to the driver replay, not crash the operation."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, ["eu", "us"][k % 2], float(k)) for k in range(60)],
        "k long, region string, v double",
    )
    lake.create_table(df, t, key_cols=["k"], partition_by=["region"])
    for i in range(10):
        lake.append(
            spark.createDataFrame(
                [(1000 + i, "eu", 1.0)], "k long, region string, v double"
            ),
            t,
        )
    expected_prune = sorted(lake.prune_files(spark, t, {"k": (0, 10)}))
    storage = lake.get_storage()
    orig = storage.resolve_read_path

    def boom(table_, rel=""):
        if "checkpoint.parquet" in rel:
            raise RuntimeError("simulated checkpoint read failure")
        return orig(table_, rel)

    monkeypatch.setattr(storage, "resolve_read_path", boom)
    assert sorted(lake.prune_files(spark, t, {"k": (0, 10)})) == expected_prune
    before = dict(lake.snapshot(t).files)
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(9000, "eu", -1.0)], "k long, region string, v double"
        ),
        t,
    )
    snap = lake.snapshot(t)
    stale = {p for p, a in before.items() if a["partition"]["region"] == "eu"}
    assert not (stale & set(snap.files))


def test_commit_checkpoint_failure_never_fails_commit(spark, tmp_path, monkeypatch):
    """Round-15 ADVICE: the checkpoint write runs AFTER put_if_absent
    durably publishes the commit, so a checkpoint failure propagating
    would make the caller re-submit a commit that SUCCEEDED. Both
    writers failing must yield a warning, a successful commit, and a
    snapshot that resolves by log replay."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 50), t, key_cols=["k"])
    for i in range(1, 10):  # v1..v9
        lake.append(
            spark.createDataFrame(
                [(1000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )

    def raise_roll(*a, **k):
        raise RuntimeError("simulated roll failure")

    def raise_write(*a, **k):
        raise RuntimeError("simulated checkpoint-write failure")

    monkeypatch.setattr(lake, "_roll_checkpoint_parquet", raise_roll)
    monkeypatch.setattr(lake, "_write_checkpoint_parquet", raise_write)
    with pytest.warns(UserWarning, match="checkpoint write failed"):
        v = lake.append(
            spark.createDataFrame(
                [(2000, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    assert v == 10
    assert not os.path.exists(
        os.path.join(t, "_log", f"{10:020d}.checkpoint.parquet")
    )
    assert lake.read_snapshot(spark, t).count() == 60
    # roll failure ALONE falls back to the snapshot-based writer: undo
    # the write patch, advance to the next checkpoint version
    monkeypatch.undo()
    monkeypatch.setattr(lake, "_roll_checkpoint_parquet", raise_roll)
    for i in range(10):  # v11..v20
        lake.append(
            spark.createDataFrame(
                [(3000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            t,
        )
    assert os.path.exists(
        os.path.join(t, "_log", f"{20:020d}.checkpoint.parquet")
    ), "roll failure did not fall back to the snapshot-based writer"
    assert lake.read_snapshot(spark, t).count() == 70


def test_table_changes_empty_after_full_delete(spark, tmp_path):
    """Round-15 ADVICE: a CDF window over a table with ZERO live files
    (every row deleted) must return a typed EMPTY frame built from the
    recorded schema — both net and file-grain — not throw 'has no
    files'."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 20), t, key_cols=["k"])
    lake.delete_where(spark, t, "k >= 0")  # v1: everything gone
    v = lake.latest_version(t)
    net = lake.table_changes(spark, t, from_version=v, to_version=v, net=True)
    assert net.columns == ["k", "grp", "amount", "_change_type", "_commit_version"]
    assert net.count() == 0
    plain = lake.table_changes(spark, t, from_version=v, to_version=v)
    assert plain.columns == ["k", "grp", "amount", "_change_type"]
    assert plain.count() == 0


def test_lake_cdf_stream_net_bucketed(spark, tmp_path):
    """Round-15 verdict #1: a net commit larger than net_rows_per_bucket
    plans MULTIPLE key-hash bucket partitions — no single-task funnel for
    a full-table MERGE — and the union of the bucket tasks' output is
    identical to table_changes(net=True), both at the reader grain and
    through a real streaming query."""
    from zio_analytics_spark.sources.lakestream import (
        _LakeCDFStreamReader,
        _NetCDFPart,
        register_lake_cdf,
    )

    register_lake_cdf(spark)
    t = str(tmp_path / "t")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    lake.create_table(
        spark.createDataFrame(
            [(k, float(k)) for k in range(200)], "k long, amount double"
        ).repartition(4),
        t,
        key_cols=["k"],
    )
    lake.merge(  # v1: a wide rewrite — updates half the keys + inserts
        spark,
        t,
        spark.createDataFrame(
            [(k, -float(k)) for k in range(0, 200, 2)]
            + [(1000 + i, 1.0) for i in range(5)],
            "k long, amount double",
        ),
    )
    reader = _LakeCDFStreamReader(
        {"path": t, "net": "true", "net_rows_per_bucket": "50"}
    )
    parts = reader.partitions({"version": 0}, {"version": 1})
    net_parts = [p for p in parts if isinstance(p, _NetCDFPart)]
    assert len(net_parts) > 1, "large net commit still plans ONE task"
    assert {p.bucket for p in net_parts} == set(range(len(net_parts)))
    assert all(p.n_buckets == len(net_parts) for p in net_parts)
    rows = []
    for p in parts:
        for batch in reader.read(p):
            rows.extend(batch.to_pylist())
    got = {
        (r["k"], r["amount"], r["_change_type"], r["_commit_version"])
        for r in rows
    }
    expect = {
        (r.k, r.amount, r._change_type, r._commit_version)
        for r in lake.table_changes(spark, t, 0, 1, net=True).collect()
    }
    assert got == expect
    assert len(rows) == len(got), "bucket tasks emitted overlapping rows"
    # end-to-end through a real streaming query with bucketing forced on
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .option("net", "true")
        .option("net_rows_per_bucket", "50")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got2 = {
        (r.k, r.amount, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    assert got2 == expect


def test_lake_cdf_stream_admission_control(spark, tmp_path):
    """Round-15 verdict #2: max_commits_per_trigger bounds every micro-
    batch during a deep-backlog catch-up; the consumer_id ledger keeps
    the bound from the FIRST trigger and across a mid-backlog restart;
    the fully drained feed equals the batch CDF (exactly-once at the
    (row, change, version) grain)."""
    import time

    from zio_analytics_spark.sources.lakestream import (
        _LakeCDFStreamReader,
        register_lake_cdf,
    )

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])  # v0
    for i in range(12):  # deep backlog: v1..v12 before any consumer runs
        lake.append(
            spark.createDataFrame(
                [(100 + i, 0, 1.0)], "k long, grp long, amount double"
            ).coalesce(1),
            t,
        )
    # unit grain: fresh reader with a consumer_id and no ledger bounds
    # from from_version at the VERY FIRST latestOffset; unbounded without
    r = _LakeCDFStreamReader(
        {"path": t, "max_commits_per_trigger": "3", "consumer_id": "unit"}
    )
    assert r.latestOffset() == {"version": 3}
    assert _LakeCDFStreamReader({"path": t}).latestOffset() == {"version": 12}
    # max_files_per_trigger: each backlog commit adds 1 file
    rf = _LakeCDFStreamReader(
        {"path": t, "max_files_per_trigger": "4", "consumer_id": "unit2"}
    )
    assert rf.latestOffset() == {"version": 4}

    batch_spans = []

    def fb(df, bid):
        rows = df.collect()
        if rows:
            batch_spans.append({r._commit_version for r in rows})
            df.write.mode("append").parquet(sink)

    def start():
        return (
            spark.readStream.format("lake_cdf")
            .option("path", t)
            .option("max_commits_per_trigger", "3")
            .option("consumer_id", "drain1")
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline and len(batch_spans) < 2:
        time.sleep(0.2)
    q.stop()  # mid-backlog restart
    assert len(batch_spans) >= 2, "no progress before the mid-backlog stop"
    q = start()
    q.processAllAvailable()
    q.stop()
    assert all(len(s) <= 3 for s in batch_spans), (
        f"a micro-batch exceeded max_commits_per_trigger: {batch_spans}"
    )
    assert len(batch_spans) >= 4, "backlog was not spread over triggers"
    got = {
        (r.k, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    # the backlog is 12 single-row appends: v(i+1) inserts k=100+i
    assert got == {(100 + i, "insert", i + 1) for i in range(12)}
    # and ignoring versions it matches the batch file-grain CDF
    assert {(k, c) for k, c, _ in got} == {
        (r.k, r._change_type)
        for r in lake.table_changes(spark, t, 0, 12).collect()
    }
    assert os.path.exists(os.path.join(t, "_consumers", "drain1.json"))


def test_rename_column_preserves_history(spark, tmp_path):
    """Round-15 verdict #3: rename is a metadata-only commit (physical
    column mapping) — zero files rewrite, old files' data surfaces under
    the NEW name, time travel to pre-rename versions shows the OLD name,
    and later writes under the new name land in the same physical
    column."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 40).coalesce(2), t, key_cols=["k"])  # v0
    files_before = set(lake.snapshot(t).files)
    v = lake.rename_column(t, "amount", "value")  # v1: metadata only
    assert v == 1
    assert set(lake.snapshot(t).files) == files_before, "rename rewrote files"
    snap = lake.snapshot(t, with_files=False)
    assert list(snap.schema) == ["k", "grp", "value"]
    assert snap.physical == {"value": "amount"}
    df = lake.read_snapshot(spark, t)
    assert df.columns == ["k", "grp", "value"]
    assert {r.value for r in df.where("k < 3").collect()} == {0.0, 10.0, 20.0}
    # time travel: the pre-rename version reads with the OLD name
    old = lake.read_snapshot(spark, t, version=0)
    assert old.columns == ["k", "grp", "amount"]
    # writes under the new name join old data in the same physical col
    lake.append(
        spark.createDataFrame([(500, 9, -5.0)], "k long, grp long, value double"),
        t,
    )  # v2
    now = {r.k: r.value for r in lake.read_snapshot(spark, t).collect()}
    assert now[500] == -5.0 and now[7] == 70.0
    # and MERGE still prunes + upserts with the renamed schema
    lake.merge(
        spark,
        t,
        spark.createDataFrame([(7, 0, -7.0)], "k long, grp long, value double"),
    )
    assert [
        r.value for r in lake.read_snapshot(spark, t).where("k = 7").collect()
    ] == [-7.0]


def test_rename_then_readd_old_name(spark, tmp_path):
    """Renaming a→b frees the logical name 'a'; re-adding a column named
    'a' must create a FRESH physical column — old 'a' data stays under
    'b' and never resurfaces under the new 'a'."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])
    lake.rename_column(t, "amount", "value")
    lake.append(
        spark.createDataFrame(
            [(100, 1, 1.0, 42.0)],
            "k long, grp long, value double, amount double",
        ),
        t,
    )  # re-adds logical 'amount' as a NEW column
    snap = lake.snapshot(t, with_files=False)
    assert snap.physical["value"] == "amount"
    assert snap.physical["amount"].startswith("amount_"), snap.physical
    rows = {r.k: (r.value, r.amount) for r in lake.read_snapshot(spark, t).collect()}
    assert rows[100] == (1.0, 42.0)
    assert rows[5] == (50.0, None), "old data resurfaced under the new column"


def test_drop_column_tombstones(spark, tmp_path):
    """Drop is metadata-only: the column vanishes from reads, time
    travel still sees it, re-adding the name yields NULLs for old rows
    (fresh physical name), and key/partition columns refuse to drop."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(k, k % 2, float(k), f"x{k}") for k in range(20)],
            "k long, p long, v double, tag string",
        ).coalesce(1),
        t,
        key_cols=["k"],
        partition_by=["p"],
    )
    v = lake.drop_column(t, "tag")
    assert v == 1
    df = lake.read_snapshot(spark, t)
    assert df.columns == ["k", "p", "v"]
    assert lake.read_snapshot(spark, t, version=0).columns == [
        "k", "p", "v", "tag",
    ]
    with pytest.raises(ValueError, match="key column"):
        lake.drop_column(t, "k")
    with pytest.raises(ValueError, match="partition column"):
        lake.drop_column(t, "p")
    # re-add 'tag': fresh physical name, old values never resurface
    lake.append(
        spark.createDataFrame(
            [(100, 0, 1.0, "new")], "k long, p long, v double, tag string"
        ),
        t,
    )
    snap = lake.snapshot(t, with_files=False)
    assert snap.physical["tag"].startswith("tag_")
    assert snap.retired == ["tag"]
    rows = {r.k: r.tag for r in lake.read_snapshot(spark, t).collect()}
    assert rows[100] == "new"
    assert rows[3] is None, "dropped data resurfaced"


def test_rename_partition_column(spark, tmp_path):
    """Renaming a partition column keeps the hive layout (physical dir
    names never change), pruning on the new name, and dynamic partition
    overwrite in renamed terms."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(k, ["eu", "us"][k % 2], float(k)) for k in range(40)],
            "k long, region string, v double",
        ),
        t,
        key_cols=["k"],
        partition_by=["region"],
    )
    lake.rename_column(t, "region", "geo")
    snap = lake.snapshot(t, with_files=False)
    assert snap.partition_by == ["geo"]
    df = lake.read_snapshot(spark, t)
    assert {r.geo for r in df.collect()} == {"eu", "us"}
    # predicates on the renamed partition column still prune directories
    plan = df.where("geo = 'eu'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "eu" in plan
    assert df.where("geo = 'eu'").count() == 20
    before = dict(lake.snapshot(t).files)
    lake.overwrite_partitions(
        spark.createDataFrame([(900, "eu", -1.0)], "k long, geo string, v double"),
        t,
    )
    snap2 = lake.snapshot(t)
    stale = {p for p, a in before.items() if a["partition"]["region"] == "eu"}
    assert not (stale & set(snap2.files)), "stale files under renamed partition"
    rows = {(r.geo, r.k) for r in lake.read_snapshot(spark, t).collect()}
    assert ("eu", 900) in rows
    assert not any(g == "eu" and k != 900 for g, k in rows)


def test_cdf_across_rename(spark, tmp_path):
    """CDF windows spanning a rename surface ONE coherent schema — the
    end version's logical names — for both file-grain and net mode, and
    the streaming CDF reader resolves old files through the mapping."""
    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])  # v0
    lake.append(
        spark.createDataFrame([(100, 1, 1.0)], "k long, grp long, amount double"),
        t,
    )  # v1
    lake.rename_column(t, "amount", "value")  # v2
    lake.merge(
        spark,
        t,
        spark.createDataFrame([(100, 1, -1.0)], "k long, grp long, value double"),
    )  # v3: update under the new name (rewrites v1's file)
    # file-grain is an ENDPOINT diff: use (1, 3] so v1's file (added
    # then removed inside a (0,3] window) sits at the window start
    plain = lake.table_changes(spark, t, 1, 3)
    assert "value" in plain.columns and "amount" not in plain.columns
    got = {(r.k, r.value, r._change_type) for r in plain.collect()}
    assert (100, 1.0, "delete") in got and (100, -1.0, "insert") in got
    net = lake.table_changes(spark, t, 0, 3, net=True)
    ngot = {(r.k, r.value, r._change_type, r._commit_version) for r in net.collect()}
    assert ngot == {
        (100, 1.0, "insert", 1),
        (100, 1.0, "update_preimage", 3),
        (100, -1.0, "update_postimage", 3),
    }
    # streaming reader: schema is the renamed one, old files resolve
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .option("net", "true")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sgot = {
        (r.k, r.value, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    assert sgot == ngot


def test_evolution_sequence_model(spark, tmp_path):
    """Property-style model test over an evolve sequence: appends,
    renames, drops, re-adds, a merge and a compact interleaved — the
    table must always equal a driver-side dict model, including across
    the checkpoint boundary."""
    import random

    rng = random.Random(1604)
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(k, float(k), str(k)) for k in range(20)],
            "k long, a double, b string",
        ).coalesce(1),
        t,
        key_cols=["k"],
    )
    # model: {k: {logical_col: value}}; cols: current logical names
    model = {k: {"a": float(k), "b": str(k)} for k in range(20)}
    cols = ["a", "b"]
    next_k = 100
    renames = 0
    for step in range(14):  # crosses the v10 checkpoint
        op = rng.choice(["append", "rename", "drop", "merge"])
        if op == "append":
            row = {c: (float(next_k) if c.startswith("a") else str(next_k)) for c in cols}
            df = spark.createDataFrame(
                [(next_k, *[row[c] for c in cols])],
                ", ".join(["k long"] + [
                    f"{c} {'double' if c.startswith('a') else 'string'}"
                    for c in cols
                ]),
            )
            lake.append(df, t)
            model[next_k] = dict(row)
            next_k += 1
        elif op == "rename" and cols:
            old = rng.choice(cols)
            new = f"{old}_r{renames}"
            renames += 1
            lake.rename_column(t, old, new)
            cols[cols.index(old)] = new
            for r in model.values():
                r[new] = r.pop(old)
        elif op == "drop" and len(cols) > 1:
            victim = rng.choice(cols)
            lake.drop_column(t, victim)
            cols.remove(victim)
            for r in model.values():
                r.pop(victim, None)
        elif op == "merge" and cols:
            k = rng.choice(list(model))
            row = {c: (-1.0 if c.startswith("a") else "M") for c in cols}
            df = spark.createDataFrame(
                [(k, *[row[c] for c in cols])],
                ", ".join(["k long"] + [
                    f"{c} {'double' if c.startswith('a') else 'string'}"
                    for c in cols
                ]),
            )
            lake.merge(spark, t, df)
            model[k].update(row)
        # verify after every step: table == model
        got = {
            r["k"]: {c: r[c] for c in cols}
            for r in (x.asDict() for x in lake.read_snapshot(spark, t).collect())
        }
        want = {
            k: {c: v.get(c) for c in cols} for k, v in model.items()
        }
        assert got == want, f"diverged at step {step} ({op})"
    lake.compact(spark, t, target_files=2)
    got = {
        r["k"]: {c: r[c] for c in cols}
        for r in (x.asDict() for x in lake.read_snapshot(spark, t).collect())
    }
    assert got == {k: {c: v.get(c) for c in cols} for k, v in model.items()}


def test_deletion_vectors_core(spark, tmp_path):
    """Round-15 verdict #4 (deletion vectors): DELETE/MERGE with
    deletion_vectors=True never rewrite touched files — rows are marked
    in a sidecar vector and anti-joined out at read. Vector growth,
    upsert + preserve-columns, full-file death, compact materialization
    and vacuum reclamation all hold."""
    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
        (F.col("id") * 1.0).alias("v"),
    )
    lake.create_table(df.repartitionByRange(4, "k"), t, key_cols=["k"])
    files0 = set(lake.snapshot(t).files)
    lake.delete_where(spark, t, "k % 10 = 3", deletion_vectors=True)
    snap = lake.snapshot(t)
    assert set(snap.files) == files0, "DV delete rewrote data files"
    assert sum(1 for a in snap.files.values() if a.get("dv")) == 4
    got = sorted(r.k for r in lake.read_snapshot(spark, t).collect())
    assert len(got) == 90 and all(k % 10 != 3 for k in got)
    assert lake.read_snapshot(spark, t, 0).count() == 100  # time travel
    # vector GROWS on a second delete
    lake.delete_where(spark, t, "k % 10 = 7", deletion_vectors=True)
    got = sorted(r.k for r in lake.read_snapshot(spark, t).collect())
    assert len(got) == 80 and all(k % 10 not in (3, 7) for k in got)
    # DV merge: update + insert; files still not rewritten
    files1 = set(lake.snapshot(t).files)
    lake.merge(
        spark, t,
        spark.createDataFrame(
            [(0, 9, -1.0), (1, 9, -2.0), (1000, 9, 5.0)],
            "k long, g long, v double",
        ),
        deletion_vectors=True,
    )
    snap = lake.snapshot(t)
    assert files1 <= set(snap.files), "DV merge removed old files"
    m = {r.k: (r.g, r.v) for r in lake.read_snapshot(spark, t).collect()}
    assert m[0] == (9, -1.0) and m[1] == (9, -2.0) and m[1000] == (9, 5.0)
    assert len(m) == 81
    # preserve-columns through DV merge (source lacks v)
    lake.merge(
        spark, t, spark.createDataFrame([(2, 8)], "k long, g long"),
        deletion_vectors=True,
    )
    m = {r.k: (r.g, r.v) for r in lake.read_snapshot(spark, t).collect()}
    assert m[2] == (8, 2.0)
    # rewrite-mode merge on a DV table must NOT resurrect deleted rows
    lake.merge(
        spark, t, spark.createDataFrame([(4, 7, -4.0)], "k long, g long, v double")
    )
    got = sorted(r.k for r in lake.read_snapshot(spark, t).collect())
    assert all(k % 10 not in (3, 7) or k == 1000 for k in got), (
        "rewrite merge resurrected DV-deleted rows"
    )
    # fully-deleted file becomes a plain remove
    lake.delete_where(spark, t, "k >= 75 and k < 1000", deletion_vectors=True)
    assert lake.read_snapshot(spark, t).count() == 61
    # compact materializes: vectors gone, same rows
    lake.compact(spark, t, target_files=2)
    snap = lake.snapshot(t)
    assert not any(a.get("dv") for a in snap.files.values())
    assert lake.read_snapshot(spark, t).count() == 61
    doomed = lake.vacuum(t, keep_versions=1, min_age_seconds=0)
    assert any(d.startswith("dv-") for d in doomed), "orphan sidecars kept"
    assert lake.read_snapshot(spark, t).count() == 61


def test_deletion_vectors_write_amplification(spark, tmp_path):
    """The point of DVs: a 1-row delete in a large file writes a few KB
    of sidecar instead of rewriting the file. Measured bytes pinned."""
    t = str(tmp_path / "t")
    df = spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    lake.create_table(df.coalesce(1), t, key_cols=["k"])
    data_bytes = sum(
        os.path.getsize(os.path.join(t, p)) for p in lake.snapshot(t).files
    )
    before = {
        os.path.join(dp, n)
        for dp, _d, ns in os.walk(t) for n in ns
    }
    lake.delete_where(spark, t, "k = 12345", deletion_vectors=True)
    new_files = [
        os.path.join(dp, n)
        for dp, _d, ns in os.walk(t) for n in ns
        if os.path.join(dp, n) not in before
    ]
    written = sum(os.path.getsize(p) for p in new_files if "/_log/" not in p)
    assert written < data_bytes / 50, (
        f"DV delete wrote {written} bytes vs {data_bytes} data bytes"
    )
    assert lake.read_snapshot(spark, t).count() == 199_999


def test_deletion_vectors_cdf(spark, tmp_path):
    """CDF over DV commits: file-grain windows emit the vector DELTA as
    deletes (the path set never changed), net mode pairs a DV-merge's
    sidecar deletes with its new-file adds into update pre/post images,
    and the STREAMING reader does the same through its position-filtered
    parts."""
    from zio_analytics_spark.sources.lakestream import register_lake_cdf

    register_lake_cdf(spark)
    t, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ck"))
    lake.create_table(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).coalesce(1),
        t,
        key_cols=["k"],
    )  # v0
    lake.delete_where(spark, t, "k in (3, 5)", deletion_vectors=True)  # v1
    lake.merge(
        spark, t,
        spark.createDataFrame([(7, -7.0), (100, 1.0)], "k long, v double"),
        deletion_vectors=True,
    )  # v2: dv-delete of old k=7 + new file (update+insert)
    lake.delete_where(spark, t, "k = 9", deletion_vectors=True)  # v3: growth
    # file-grain: deltas surface as deletes
    plain = {
        (r.k, r.v, r._change_type)
        for r in lake.table_changes(spark, t, 0, 3).collect()
    }
    assert plain == {
        (3, 3.0, "delete"), (5, 5.0, "delete"), (7, 7.0, "delete"),
        (9, 9.0, "delete"), (7, -7.0, "insert"), (100, 1.0, "insert"),
    }
    # net: the DV merge forms an update pair; deletes stay deletes
    net = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in lake.table_changes(spark, t, 0, net=True).collect()
    }
    expect_net = {
        (3, 3.0, "delete", 1), (5, 5.0, "delete", 1),
        (7, 7.0, "update_preimage", 2), (7, -7.0, "update_postimage", 2),
        (100, 1.0, "insert", 2), (9, 9.0, "delete", 3),
    }
    assert net == expect_net
    # streaming, net mode: identical
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .option("net", "true")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sgot = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    assert sgot == expect_net
    # streaming, file-grain mode
    sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ck2")
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink2)
        )
        .option("checkpointLocation", ckpt2)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    fgot = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink2).collect()
    }
    assert fgot == {
        (3, 3.0, "delete", 1), (5, 5.0, "delete", 1),
        (7, 7.0, "delete", 2), (7, -7.0, "insert", 2),
        (100, 1.0, "insert", 2), (9, 9.0, "delete", 3),
    }


def test_rewrite_dml_after_dv_commit(spark, tmp_path):
    """Rewrite-mode DELETE and UPDATE on files that already carry deletion
    vectors: the hit-file scan reads through the vector's anti-join, so its
    file identity must come from the scan's ``_metadata``. One file per
    region, set explicitly, so the layout does not follow the core count."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(k, ["eu", "us"][k % 2], float(k)) for k in range(40)],
            "k long, region string, v double",
        ).repartition(1),
        t,
        key_cols=["k"],
        partition_by=["region"],
    )
    files0 = dict(lake.snapshot(t).files)
    assert len(files0) == 2
    lake.delete_where(spark, t, "k in (0, 1)", deletion_vectors=True)
    snap = lake.snapshot(t)
    assert set(snap.files) == set(files0)
    assert all(a.get("dv") for a in snap.files.values())
    # rewrite-mode delete: the eu file (with its vector) rewrites clean
    lake.delete_where(spark, t, "k = 2")
    snap = lake.snapshot(t)
    region = {p: a["partition"]["region"] for p, a in snap.files.items()}
    (eu,) = [p for p, r in region.items() if r == "eu"]
    assert eu not in files0 and not snap.files[eu].get("dv")
    # rewrite-mode update: the us file, still carrying its vector, rewrites
    lake.update_where(spark, t, "k = 3", {"v": "v + 100"})
    snap = lake.snapshot(t)
    assert not set(snap.files) & set(files0)
    assert not any(a.get("dv") for a in snap.files.values())
    m = {r.k: r.v for r in lake.read_snapshot(spark, t).collect()}
    assert set(m) == set(range(3, 40))
    assert m[3] == 103.0 and m[4] == 4.0 and m[5] == 5.0


def test_update_where_rewrite_and_dv(spark, tmp_path):
    """UPDATE ... SET ... WHERE in both modes: rewrite touches only the
    files containing matches; DV mode never rewrites (vector + one new
    file); NULL-predicate rows are untouched; assignments cast to the
    declared types; partition-moving updates land in the right dir."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.createDataFrame(
            [(k, ["eu", "us"][k % 2], float(k)) for k in range(40)],
            "k long, region string, v double",
        ),
        t,
        key_cols=["k"],
        partition_by=["region"],
    )
    before = dict(lake.snapshot(t).files)
    v = lake.update_where(spark, t, "k % 4 = 0", {"v": "v + 100"})
    assert v == 1
    m = {r.k: (r.region, r.v) for r in lake.read_snapshot(spark, t).collect()}
    assert m[0] == ("eu", 100.0) and m[4] == ("eu", 104.0)
    assert m[1] == ("us", 1.0) and m[2] == ("eu", 2.0)
    # only eu files rewrote (all k%4==0 are eu); us files survive by ref
    snap = lake.snapshot(t)
    us_before = {p for p, a in before.items() if a["partition"]["region"] == "us"}
    assert us_before <= set(snap.files)
    # DV mode: unmatched files never rewrite (matches are all us-region;
    # a tiny file whose EVERY row matched correctly becomes a remove)
    files1 = dict(lake.snapshot(t).files)
    lake.update_where(
        spark, t, "k % 4 = 1", {"v": "-v"}, deletion_vectors=True
    )
    snap = lake.snapshot(t)
    eu_files = {
        p for p, a in files1.items() if a["partition"]["region"] == "eu"
    }
    assert eu_files <= set(snap.files), "untouched partition rewrote"
    m = {r.k: r.v for r in lake.read_snapshot(spark, t).collect()}
    assert m[1] == -1.0 and m[5] == -5.0 and m[3] == 3.0
    assert len(m) == 40
    # partition-moving update: the row re-stages into its new hive dir
    lake.update_where(
        spark, t, "k = 2", {"region": "'ap'"}, deletion_vectors=True
    )
    rows = {(r.k, r.region) for r in lake.read_snapshot(spark, t).collect()}
    assert (2, "ap") in rows and not any(k == 2 and g != "ap" for k, g in rows)
    # int assignment into a double column casts (schema-on-write)
    lake.update_where(spark, t, "k = 3", {"v": "7"})
    assert [
        r.v for r in lake.read_snapshot(spark, t).where("k = 3").collect()
    ] == [7.0]
    # unknown column fails loudly; no-op predicate returns current version
    with pytest.raises(ValueError, match="unknown columns"):
        lake.update_where(spark, t, "k = 0", {"nope": "1"})
    cur = lake.latest_version(t)
    assert lake.update_where(spark, t, "k = 99999", {"v": "0"}) == cur
    # net CDF pairs a DV update into pre/post images
    net = {
        (r.k, r.v, r._change_type)
        for r in lake.table_changes(spark, t, 1, 2, net=True).collect()
    }
    assert net == {
        (k, float(k), "update_preimage") for k in range(1, 40, 4)
    } | {(k, -float(k), "update_postimage") for k in range(1, 40, 4)}


def test_compact_zorder_multi_column_prune(spark, tmp_path):
    """OPTIMIZE ZORDER (round-16): linear (a,b) clustering gives tight
    stats only for the LEADING column — a predicate on b touches every
    file; the quantized-Morton layout gives every file a small
    rectangle, so BOTH dimensions prune. Measured file counts pin the
    trade; rows are bit-identical under either layout."""
    t = str(tmp_path / "t")
    n = 10_000
    df = spark.range(n).select(
        (F.col("id") % 100).alias("a"),
        (F.col("id") / 100).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    lake.create_table(df.repartition(8), t, key_cols=["a", "b"])
    lake.compact(spark, t, target_files=16, layout="linear")
    lin_a = len(lake.prune_files(spark, t, {"a": (10, 15)}))
    lin_b = len(lake.prune_files(spark, t, {"b": (10, 15)}))
    lake.compact(spark, t, target_files=16, layout="zorder")
    zo_a = len(lake.prune_files(spark, t, {"a": (10, 15)}))
    zo_b = len(lake.prune_files(spark, t, {"b": (10, 15)}))
    assert lin_a < 16, "linear leading-column stats did not prune"
    assert lin_b == len(lake.snapshot(t).files) or lin_b >= 14, (
        "test premise: linear layout should NOT prune the second column"
    )
    assert zo_a < 16 and zo_b < 16, (
        f"zorder failed to prune both dims: a={zo_a}, b={zo_b}"
    )
    assert zo_b < lin_b, f"zorder b-prune ({zo_b}) not better than linear ({lin_b})"
    assert lake.read_snapshot(spark, t).count() == n
    got = {
        (r.a, r.b)
        for r in lake.read_snapshot(spark, t)
        .where("b between 10 and 15")
        .collect()
    }
    assert got == {
        (i % 100, i // 100) for i in range(n) if 10 <= i // 100 <= 15
    }
    with pytest.raises(ValueError, match="unknown compact layout"):
        lake.compact(spark, t, layout="hilbert")


def test_evolving_append_conflict_reruns_on_fresh_snapshot(spark, tmp_path, monkeypatch):
    """Round-16 review: a SCHEMA-EVOLVING append that loses a commit race
    must re-run against the winner's snapshot, not replay its stale
    full-schema meta — under replace semantics the stale meta would
    clobber a concurrent drop (resurrecting tombstoned data) or a
    concurrent evolution (vanishing its column)."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 10).coalesce(1), t, key_cols=["k"])
    real_commit = lake._commit
    state = {"raced": False}

    def racing_commit(table, version, actions, op, **kw):
        if (
            not state["raced"]
            and op == "APPEND"
            and any("meta" in a for a in actions)
        ):
            state["raced"] = True
            # a concurrent writer wins the slot with a DROP first
            lake.drop_column(table, "grp")
        return real_commit(table, version, actions, op, **kw)

    monkeypatch.setattr(lake, "_commit", racing_commit)
    lake.append(
        spark.createDataFrame(
            [(100, 1, 1.0, "x")], "k long, grp long, amount double, tag string"
        ),
        t,
    )
    monkeypatch.undo()
    snap = lake.snapshot(t, with_files=False)
    assert "tag" in snap.schema and "grp" in snap.schema
    # grp was dropped by the racing writer, then RE-ADDED by the rerun —
    # it must be a fresh physical column, not the tombstoned one
    assert snap.physical.get("grp", "grp").startswith("grp_"), snap.physical
    rows = {r.k: (r.grp, r.tag) for r in lake.read_snapshot(spark, t).collect()}
    assert rows[100] == (1, "x")
    assert rows[0] == (None, None), (
        "dropped column data resurfaced after a conflicted evolving append"
    )


def test_compact_zorder_rejects_single_dimension(spark, tmp_path):
    """Round-16 review: asking for zorder with <2 usable non-partition
    cluster columns raises instead of silently running the linear
    layout."""
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 20).coalesce(1), t, key_cols=["k"])
    with pytest.raises(ValueError, match="non-partition cluster"):
        lake.compact(spark, t, layout="zorder", cluster_by=["k"])


def test_compact_small_incremental(spark, tmp_path):
    """Incremental OPTIMIZE (round-16): only files under the size
    threshold (plus any DV'd file, which materializes) rewrite; large
    clean files survive by reference — the O(small files) janitor a
    standing ingest runs where full compact() would be O(table)."""
    t = str(tmp_path / "t")
    lake.create_table(
        spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        ).coalesce(1),
        t,
        key_cols=["k"],
    )
    big = set(lake.snapshot(t).files)
    assert len(big) == 1
    for i in range(6):  # tiny per-trigger appends
        lake.append(
            spark.createDataFrame(
                [(100_000 + i, 1.0, "x")], "k long, v double, pad string"
            ).coalesce(1),
            t,
        )
    # one DV delete on the big file: compact_small must materialize it
    lake.delete_where(spark, t, "k = 7", deletion_vectors=True)
    snap = lake.snapshot(t)
    assert sum(1 for a in snap.files.values() if a.get("dv")) == 1
    small_threshold = 1 << 20  # 1 MiB: catches the tiny appends only
    big_bytes = next(iter(snap.files.values()))
    v = lake.compact_small(spark, t, small_bytes=small_threshold)
    snap2 = lake.snapshot(t)
    # the big file was eligible ONLY because of its vector; after
    # materialization nothing carries a dv
    assert not any(a.get("dv") for a in snap2.files.values())
    assert not (big & set(snap2.files)), "DV'd big file not materialized"
    # rows preserved exactly (minus the DV-deleted one)
    assert lake.read_snapshot(spark, t).count() == 50_000 - 1 + 6
    # the tiny files were merged away: fewer live files than before
    assert len(snap2.files) < len(snap.files)
    # all new files carry recorded bytes
    assert all(a.get("bytes") is not None for a in snap2.files.values())
    # second run with nothing to do is a no-op version-wise
    v2 = lake.compact_small(spark, t, small_bytes=1)
    assert v2 == v
    # a big CLEAN file (no dv) under a small threshold never rewrites
    files_now = set(lake.snapshot(t).files)
    lake.append(
        spark.createDataFrame([(1, 1.0, "y")], "k long, v double, pad string"
        ).coalesce(1), t,
    )
    lake.compact_small(spark, t, small_bytes=1)  # nothing qualifies
    assert files_now <= set(lake.snapshot(t).files)


def test_stage_writes_leave_no_success_marker(spark, tmp_path, monkeypatch):
    """When the data and deletion-vector stages are dropped, all that is
    left of them is the published part files' checksums: the committer
    wrote no `_SUCCESS` marker."""
    staged = []
    rmtree = lake.shutil.rmtree

    def record_stage(path, *args, **kwargs):
        if os.path.basename(path).startswith("_stage-"):
            staged.extend(n for _, _, names in os.walk(path) for n in names)
        rmtree(path, *args, **kwargs)

    monkeypatch.setattr(lake.shutil, "rmtree", record_stage)
    t = str(tmp_path / "t")
    lake.create_table(_orders(spark, 100), t, key_cols=["k"])
    lake.delete_where(spark, t, "k % 10 = 3", deletion_vectors=True)
    assert staged
    assert [n for n in staged if not n.startswith(".part-")] == []
