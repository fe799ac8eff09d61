"""[EXT] Streaming CHANGE DATA FEED source over the versioned lake table
(VERDICT r13 #6) — ``spark.readStream.format("lake_cdf")`` behind the
Spark 4 Python DataSource V2 streaming seam.

The batch half (:func:`zio_analytics_spark.sources.laketable.table_changes`)
answers "what changed between two versions"; this source turns the same
log into an UNBOUNDED feed: the stream offset is simply the last
processed table version, each micro-batch covers the commit range
``(start_version, latest_version]``, and the batch's input partitions
are exactly the data files those commits added/removed (one task per
changed file — rows in added files emit ``_change_type='insert'``, rows
in removed files ``'delete'``, each tagged with ``_commit_version``).

Why this is exactly-once across restarts for free: versions and their
file lists are IMMUTABLE once committed, so replaying a committed-but-
unfinished offset range after a crash re-reads byte-identical data —
the offset fully determines the batch, the property Structured
Streaming's checkpoint protocol needs from a source. No state beyond
the checkpointed offset exists anywhere.

Scale shape: ``partitions()`` walks the log version by version (driver-
side, file LISTS only — never data) through laketable's one log reader
(``_commit_file_deltas`` and admission control's ``_cap_end`` both
read commits via ``laketable._read_log``; this module never opens a
commit file itself), so a file that is added and then
removed inside one offset range still surfaces as its insert+delete
pair (an endpoint-only diff would silently drop it); the parquet bytes
are read task-side via Arrow, one changed file per task. Net mode plans
key-hash BUCKET tasks per commit (round-15 verdict #1): a commit's
added+removed row count over ``net_rows_per_bucket`` fans out across
up to ``net_max_buckets`` tasks, each filtering both sides to its
bucket — task memory is 1/n_buckets of the commit, and a full-table
MERGE/COMPACT commit no longer serializes through one task. Cost per
trigger is O(changed files), never O(table);
``max_commits_per_trigger``/``max_files_per_trigger`` (+ optional
``consumer_id`` restart ledger) bound a backlog catch-up to multiple
incremental triggers.

Retention contract (the same one Delta documents for its CDF): a
lagging stream reads HISTORICAL files, and ``vacuum`` reclaims files
unreferenced by the retained snapshots — if retention is shorter than
the stream's lag, the batch fails with the missing file (loudly, never
silently empty; pinned in tests). Operate with
``vacuum(keep_versions=...)`` / ``min_age_seconds`` wider than the
maximum consumer lag.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from zio_analytics_spark.sources import laketable

__all__ = ["LakeCDFDataSource", "register_lake_cdf"]


def _typed_value(v, simple_type: str | None):
    """A JSON-logged partition value back to the declared Spark type."""
    import datetime as dt

    if v is None or not isinstance(v, str):
        return v
    if simple_type == "date":
        return dt.date.fromisoformat(v)
    if simple_type and simple_type.startswith("timestamp"):
        return dt.datetime.fromisoformat(v)
    return v


def _arrow_type(simple_type: str | None):
    """The pyarrow type a SYNTHESIZED column (partition value, evolved-
    schema NULL, change metadata) must carry so the RecordBatch matches
    the declared stream schema. Returns None for types this map doesn't
    cover — the reader then falls back to per-row tuple emission for
    that file (correct, slower), never guesses."""
    import pyarrow as pa

    return {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }.get(simple_type)


class _CDFPart(InputPartition):
    def __init__(
        self,
        path: str | None,
        change_type: str,
        commit_version: int,
        partition_values: dict,
        dv: tuple | None = None,
    ) -> None:
        self.path = path
        self.change_type = change_type
        self.commit_version = commit_version
        self.partition_values = partition_values
        #: deletion-vector spec (round-16): ("exclude", [sidecar dirs])
        #: drops the vector's positions (a removed file emits only its
        #: LIVE rows); ("delta", [new dirs], [old dirs]) keeps ONLY the
        #: newly-deleted positions (a vector-growth commit emits its
        #: delta as deletes). Dirs are resolved at planning time.
        self.dv = dv


class _NetCDFPart(InputPartition):
    """NET mode plans ``n_buckets`` partitions per commit, bucketed by a
    deterministic hash of the table's key columns (round-15 verdict #1 —
    file-grain mode plans one partition per file): each task reads BOTH
    sides of the commit but keeps only the rows whose key hashes to its
    bucket, so the anti-join sees every row of a key while task memory
    is ~1/n_buckets of the commit. A full-table MERGE/COMPACT commit
    fans out instead of funnelling through one task; the trade is
    n_buckets re-reads of the commit's files (parquet column reads,
    task-parallel). ``added``/``removed`` are lists of (resolved path,
    partition values, dv spec — see :class:`_CDFPart`); a single-bucket
    part (small commit) skips the hash entirely."""

    def __init__(
        self,
        version: int,
        added: list,
        removed: list,
        bucket: int = 0,
        n_buckets: int = 1,
    ) -> None:
        self.version = version
        self.added = added
        self.removed = removed
        self.bucket = bucket
        self.n_buckets = n_buckets


class _LakeCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.table = options.get("path")
        if not self.table:
            raise ValueError("lake_cdf requires .option('path', <table dir>)")
        self.from_version = int(options.get("from_version", 0))
        self.net = str(options.get("net", "false")).lower() == "true"
        # net-mode bucketing (round-15 verdict #1): commits whose added+
        # removed rows exceed net_rows_per_bucket plan multiple hash
        # buckets, capped at net_max_buckets
        self.net_rows_per_bucket = int(
            options.get("net_rows_per_bucket", 4_000_000)
        )
        self.net_max_buckets = int(options.get("net_max_buckets", 64))
        # admission control (round-15 verdict #2): bound each micro-batch
        # during backlog catch-up
        mc = options.get("max_commits_per_trigger")
        self.max_commits = int(mc) if mc is not None else None
        mf = options.get("max_files_per_trigger")
        self.max_files = int(mf) if mf is not None else None
        if self.max_commits is not None and self.max_commits < 1:
            raise ValueError("max_commits_per_trigger must be >= 1")
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("max_files_per_trigger must be >= 1")
        self.consumer_id = options.get("consumer_id")
        if self.consumer_id and not re.fullmatch(
            r"[A-Za-z0-9._-]{1,128}", self.consumer_id
        ):
            raise ValueError(
                "consumer_id must be 1-128 chars of [A-Za-z0-9._-] "
                "(it names a ledger file under the table dir)"
            )
        # the last table version this reader knows the query has REACHED
        # (planned or committed). latestOffset bounds each trigger
        # relative to it; None = unknown (bound from the ledger if one
        # exists, else the first trigger is unbounded — see latestOffset)
        self._last_end: int | None = None
        if self.consumer_id:
            self._last_end = self._read_ledger()
        # meta-only: the reader needs schema/keys/mapping, never the
        # file list — a 10^7-file table must not materialize it on the
        # driver just to open a stream (round-16)
        snap = laketable.snapshot(self.table, with_files=False)
        if not snap.schema:
            raise ValueError(
                f"{self.table} has no recorded table schema; the CDF "
                "stream needs the meta action create_table writes"
            )
        self.columns = list(snap.schema)
        self.types = dict(snap.schema)
        self.keys = list(snap.key_cols)
        # logical -> PHYSICAL in-file name (round-16 column mapping):
        # files and add-action partition keys always carry physical
        # names; the stream's output schema is logical
        self.physical = dict(snap.physical)
        if self.net:
            if not self.keys:
                raise ValueError(
                    f"{self.table} has no key_cols; net CDF joins added vs "
                    "removed rows by key — drop .option('net') for the "
                    "file-grain feed"
                )
            bad = [c for c in self.columns if _arrow_type(self.types[c]) is None]
            if bad:
                raise ValueError(
                    f"net CDF needs Arrow-expressible column types; {bad} "
                    "fall outside the map (file-grain mode supports them "
                    "via the row fallback)"
                )

    def _ledger_path(self) -> str:
        return os.path.join(
            self.table, "_consumers", f"{self.consumer_id}.json"
        )

    def _read_ledger(self) -> int | None:
        try:
            raw = laketable.get_storage().read_bytes(self._ledger_path())
            return int(json.loads(raw)["last_end"])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _note_progress(self, version: int, persist: bool = False) -> None:
        """Record the highest table version the query has planned or
        committed. With a ``consumer_id``, ``persist=True`` (partition-
        planning time) writes it to the ledger LOUDLY — the restart-time
        bound must never fall below a version Spark's offset log already
        pinned, so a failed ledger write fails the plan, not the
        contract."""
        version = int(version)
        if self._last_end is None or version > self._last_end:
            self._last_end = version
            if persist and self.consumer_id:
                laketable.get_storage().put_atomic(
                    self._ledger_path(),
                    json.dumps({"last_end": version}).encode("utf-8"),
                )

    def _cap_end(self, base: int, latest: int) -> int:
        """Admission control: the largest end version this trigger may
        cover starting after ``base``. max_commits_per_trigger caps the
        commit count; max_files_per_trigger walks the pending commits'
        log entries (driver, O(admitted commits) small reads) summing
        changed-file counts and stops BEFORE the commit that would
        exceed the cap — always admitting at least one commit so the
        stream progresses even past a single oversized commit."""
        end = latest
        if self.max_commits is not None:
            end = min(end, base + self.max_commits)
        if self.max_files is not None and end > base:
            total, capped = 0, base
            for v, actions in laketable._read_log(self.table, base, end):
                n = sum("add" in a or "remove" in a for a in actions)
                if capped > base and total + n > self.max_files:
                    break
                total += n
                capped = v
            if capped > base:
                end = capped
        return end

    def initialOffset(self) -> dict:
        # a fresh query starts at from_version — that is also the base
        # the first bounded trigger may count from
        self._note_progress(self.from_version)
        return {"version": self.from_version}

    def latestOffset(self) -> dict:
        """Newest version, bounded by admission control when configured.
        The bound needs the query's current position, which this API
        never passes in (no ReadLimit in the Python DataSource seam) —
        it is learned from initialOffset (fresh query), the replayed
        partitions() call (restart with an in-flight batch; Spark replans
        it from the offset log BEFORE the first latestOffset — verified
        empirically), commit() callbacks, and the consumer ledger
        (restart after a clean commit). The position must never be
        GUESSED low: returning an offset below the checkpointed start
        would plan a shrinking batch and re-emit already-processed
        commits after it. With no position signal at all (no consumer_id,
        restart after a clean commit) the first trigger is therefore
        unbounded — documented; set consumer_id for a fully bounded
        catch-up."""
        latest = laketable.latest_version(self.table)
        if self.max_commits is None and self.max_files is None:
            return {"version": latest}
        if self._last_end is None:
            if not self.consumer_id:
                return {"version": latest}
            # consumer_id set but no ledger: nothing was EVER planned for
            # this consumer (ledger writes are loud at planning time and
            # precede any batch commit), so from_version is a safe base
            base = self.from_version
        else:
            base = self._last_end
        return {"version": self._cap_end(base, latest)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # per-commit file deltas come from laketable's shared walker: ONE
        # snapshot resolve at the range start, each commit file read once
        # (never O(range) log replays on the streaming hot path). Data-
        # file URIs resolve through the storage seam (round-14 ADVICE) —
        # resolution happens HERE (driver, partition planning) so the
        # task-side read needs no storage object at all.
        v0, v1 = int(start["version"]), int(end["version"])
        # learn the query's position (replayed batches teach it on
        # restart) and persist it for bounded restarts BEFORE planning —
        # the offset log already pins this batch, so the ledger must
        # never lag a batch that might commit
        self._note_progress(max(v0, v1), persist=True)
        resolve = laketable.get_storage().resolve_read_path

        def dv_exclude(action):
            # a dv'd file's LIVE rows exclude the vector's positions
            d = action.get("dv")
            return ("exclude", [resolve(self.table, d["path"])]) if d else None

        def dv_delta(old_action, new_action):
            new_d = new_action.get("dv")
            old_d = old_action.get("dv")
            return (
                "delta",
                [resolve(self.table, new_d["path"])] if new_d else [],
                [resolve(self.table, old_d["path"])] if old_d else [],
            )

        parts: list[InputPartition] = []
        for v, added, removed, _schema, dv_chg in (
            laketable._commit_file_deltas(self.table, v0, v1)
        ):
            # (rel path, add action, change type, dv spec) per changed
            # file; a vector growth's DELTA rows are this commit's delete
            # side (round-16 DVs)
            changed = [(rel, a, "insert", None) for rel, a in sorted(added.items())]
            changed += [
                (rel, a, "delete", dv_exclude(a))
                for rel, a in sorted(removed.items())
            ]
            changed += [
                (rel, new, "delete", dv_delta(old, new))
                for rel, (old, new) in sorted(dv_chg.items())
            ]
            if not self.net:
                parts += [
                    _CDFPart(
                        resolve(self.table, rel), kind, v,
                        a.get("partition", {}), dv,
                    )
                    for rel, a, kind, dv in changed
                ]
                continue
            if not changed:
                continue
            # dv-change entries read their file's rows too (the delta
            # filter runs after the read), so they count toward the
            # bucket sizing like any other side
            total_rows = sum(a.get("rows") or 0 for _r, a, _k, _d in changed)
            n_buckets = 1
            if total_rows and self.net_rows_per_bucket > 0:
                n_buckets = min(
                    self.net_max_buckets,
                    max(1, -(-total_rows // self.net_rows_per_bucket)),
                )
            side = {
                k: [
                    (resolve(self.table, rel), a.get("partition", {}), dv)
                    for rel, a, kind, dv in changed
                    if kind == k
                ]
                for k in ("insert", "delete")
            }
            parts += [
                _NetCDFPart(v, side["insert"], side["delete"], b, n_buckets)
                for b in range(n_buckets)
            ]
        if not parts:  # meta-only commits in range: an empty batch
            parts.append(_CDFPart(None, "insert", v1, {}))
        return parts

    def read(self, part: _CDFPart) -> Iterator:
        """Task-side read of one changed file. The fast path yields
        ``pyarrow.RecordBatch`` directly (Spark 4's Python DataSource
        accepts Arrow batches from ``read()``) — the parquet bytes are
        already columnar in hand, and per-row tuple emission was the one
        per-row-Python data path in the repo, a 10-50× throughput tax on
        wide tables (round-14 verdict; ≥5× pinned in test_scale). Files
        whose declared types fall outside the Arrow map, or whose stored
        types refuse the cast, fall back to per-row tuples — identical
        rows, never a wrong answer."""
        if isinstance(part, _NetCDFPart):
            yield from self._read_net(part)
            return
        if part.path is None:
            return
        aligned = self._aligned_table(part.path, part.partition_values)
        if aligned is not None:
            aligned = self._apply_dv_spec(aligned, part.path, part.dv)
            yield from self._with_meta(
                aligned, part.change_type, part.commit_version
            )
            return
        import pyarrow.parquet as pq

        present = self._file_cols(part.path)
        tbl = pq.read_table(
            part.path,
            columns=[
                self.physical.get(c, c)
                for c in self.columns
                if self.physical.get(c, c) in present
            ],
        )
        tbl = self._apply_dv_spec(tbl, part.path, part.dv)
        yield from self._read_rows(tbl, part)

    @staticmethod
    def _dv_position_set(dirs, base: str) -> set:
        import pyarrow.parquet as pq

        out: set = set()
        for d in dirs:
            t = pq.read_table(
                d, filters=[("file", "=", base)], columns=["pos"]
            )
            out.update(t.column("pos").to_pylist())
        return out

    def _apply_dv_spec(self, tbl, path: str, dv: tuple | None):
        """Position-filter ONE file's table by its deletion-vector spec
        (round-16). ``tbl``'s row order must be the FILE's row order —
        pq.read_table preserves it, and _aligned_table only maps
        columns. ('exclude', dirs) drops the vector's positions (live
        rows of a removed dv'd file); ('delta', new, old) keeps only
        the newly-deleted positions (a vector-growth commit's delete
        side)."""
        if dv is None:
            return tbl
        import numpy as np
        import pyarrow as pa

        base = path.rsplit("/", 1)[-1]
        if dv[0] == "exclude":
            pos = self._dv_position_set(dv[1], base)
            valid = [p for p in pos if p < tbl.num_rows]
            if not valid:
                return tbl
            mask = np.ones(tbl.num_rows, dtype=bool)
            mask[np.asarray(valid, dtype=np.int64)] = False
            return tbl.filter(pa.array(mask))
        new = self._dv_position_set(dv[1], base)
        old = self._dv_position_set(dv[2], base)
        keep = sorted(p for p in new - old if p < tbl.num_rows)
        return tbl.take(keep)

    @staticmethod
    def _file_cols(path: str) -> set:
        import pyarrow.parquet as pq

        return set(pq.ParquetFile(path).schema_arrow.names)

    def _aligned_table(self, path: str, partition_values: dict):
        """One data file as a pa.Table of EXACTLY the declared columns:
        stored columns pass through (cast to the declared type when an
        older file predates a widening), partition values and evolved-
        schema NULLs materialize as repeated-scalar/null arrays. Returns
        None when any declared type is outside the Arrow map — the
        caller falls back to rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        phys = {c: self.physical.get(c, c) for c in self.columns}
        present = self._file_cols(path)
        tbl = pq.read_table(
            path,
            columns=[phys[c] for c in self.columns if phys[c] in present],
        )
        n = tbl.num_rows
        arrays = []
        try:
            for c in self.columns:
                want = _arrow_type(self.types.get(c))
                if want is None:
                    return None
                if phys[c] in present:
                    col = tbl.column(phys[c])
                    arrays.append(col if col.type == want else col.cast(want))
                elif phys[c] in partition_values:  # hive layout: dir value
                    v = _typed_value(
                        partition_values[phys[c]], self.types.get(c)
                    )
                    arrays.append(pa.repeat(pa.scalar(v, type=want), n))
                else:  # written before this column existed: NULL
                    arrays.append(pa.nulls(n, type=want))
            return pa.table(arrays, names=list(self.columns))
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
            return None

    def _with_meta(self, tbl, change_type: str, version: int):
        import pyarrow as pa

        n = tbl.num_rows
        out = tbl.append_column(
            "_change_type", pa.repeat(pa.scalar(change_type, pa.string()), n)
        ).append_column(
            "_commit_version", pa.repeat(pa.scalar(version, pa.int64()), n)
        )
        yield from out.to_batches()

    def _read_net(self, part: _NetCDFPart):
        """NET row-level changes of one commit, computed task-side in
        Arrow (Acero hash joins — no Python row loop anywhere): the
        added side anti-joined to the removed side on key_cols gives
        inserts/deletes; matched keys with value changes surface as
        update_preimage/update_postimage pairs; rewritten-but-unchanged
        rows (the bulk of a MERGE rewrite, ALL of a COMPACT) vanish.
        Memory is ONE KEY-HASH BUCKET of the commit per task (round-15
        verdict #1): a multi-bucket part filters each file to its bucket
        right after the read, so peak memory is one file plus the
        bucket's survivors, and a full-table rewrite commit fans out
        across n_buckets parallel tasks instead of one. Keys are assumed
        unique per side within a commit, the same contract MERGE upserts
        under. NaN values compare as changed unless BOTH sides are
        NaN."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def side(files):
            tables = []
            for path, pvals, dv in files:
                t = self._aligned_table(path, pvals)
                if t is None:  # init() pre-checks types; a cast refused
                    raise ValueError(
                        f"net CDF could not align {path} to the declared "
                        f"schema {self.types}"
                    )
                t = self._apply_dv_spec(t, path, dv)
                if part.n_buckets > 1:
                    t = self._bucket_filter(t, part.bucket, part.n_buckets)
                if t.num_rows:
                    tables.append(t)
            if not tables:
                return None
            return pa.concat_tables(tables).combine_chunks()

        added, removed = side(part.added), side(part.removed)
        v = part.version
        if removed is None and added is not None:
            yield from self._with_meta(added, "insert", v)
            return
        if added is None and removed is not None:
            yield from self._with_meta(removed, "delete", v)
            return
        if added is None and removed is None:
            return
        keys = self.keys
        ka = pa.table(
            {**{k: added[k] for k in keys},
             "__ia": pa.array(np.arange(added.num_rows, dtype=np.int64))}
        )
        kr = pa.table(
            {**{k: removed[k] for k in keys},
             "__ir": pa.array(np.arange(removed.num_rows, dtype=np.int64))}
        )
        ins_idx = ka.join(kr, keys=keys, join_type="left anti")["__ia"]
        del_idx = kr.join(ka, keys=keys, join_type="left anti")["__ir"]
        matched = ka.join(kr, keys=keys, join_type="inner")
        if len(ins_idx):
            yield from self._with_meta(added.take(ins_idx), "insert", v)
        if len(del_idx):
            yield from self._with_meta(removed.take(del_idx), "delete", v)
        if not matched.num_rows:
            return
        post = added.take(matched["__ia"]).combine_chunks()
        pre = removed.take(matched["__ir"]).combine_chunks()
        changed = None
        for c in self.columns:
            if c in keys:
                continue
            x, y = post[c], pre[c]
            eq = pc.or_(
                pc.fill_null(pc.equal(x, y), False),
                pc.and_(pc.is_null(x), pc.is_null(y)),
            )
            if pa.types.is_floating(x.type):
                eq = pc.or_(
                    eq,
                    pc.and_(
                        pc.fill_null(pc.is_nan(x), False),
                        pc.fill_null(pc.is_nan(y), False),
                    ),
                )
            diff = pc.invert(eq)
            changed = diff if changed is None else pc.or_(changed, diff)
        if changed is not None and pc.any(changed).as_py():
            yield from self._with_meta(pre.filter(changed), "update_preimage", v)
            yield from self._with_meta(post.filter(changed), "update_postimage", v)

    def _bucket_filter(self, tbl, bucket: int, n_buckets: int):
        """Rows of ``tbl`` whose key tuple hashes to ``bucket``. The hash
        must agree across tasks and processes and across the added/
        removed sides (or an update pair would split into a spurious
        insert+delete): every key column is rendered through its ALIGNED
        arrow type (identical on both sides by construction) to a binary
        string, columns join with a separator, and pandas' fixed-key
        siphash (hash_array — vectorized C, deterministic, independent
        of PYTHONHASHSEED) buckets the result. Cost is O(rows) per file
        per bucket-task — the documented price of bounding task memory
        to 1/n_buckets of the commit."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        cols = []
        for k in self.keys:
            col = tbl[k]
            t = col.type
            if not (pa.types.is_string(t) or pa.types.is_binary(t)):
                col = pc.cast(col, pa.string())
            col = pc.cast(col, pa.binary())
            cols.append(pc.fill_null(col, b"\x00NULL"))
        combo = (
            cols[0]
            if len(cols) == 1
            else pc.binary_join_element_wise(*cols, b"\x01")
        )
        vals = np.asarray(combo.to_pandas(), dtype=object)
        h = pd.util.hash_array(vals) % np.uint64(n_buckets)
        return tbl.filter(pa.array(h == np.uint64(bucket)))

    def _read_rows(self, tbl, part: _CDFPart) -> Iterator[tuple]:
        """Row-at-a-time fallback (the pre-round-15 path), kept for types
        the Arrow assembly can't express."""
        present = set(tbl.column_names)
        n = tbl.num_rows
        cols = []
        for c in self.columns:
            pc_ = self.physical.get(c, c)
            if pc_ in present:
                cols.append(tbl.column(pc_).to_pylist())
            elif pc_ in part.partition_values:  # hive layout: dir value
                # add actions store date/timestamp partition values as
                # ISO strings (JSON log); materialize the declared type
                v = _typed_value(
                    part.partition_values[pc_], self.types.get(c)
                )
                cols.append([v] * n)
            else:  # written before this column existed: NULL
                cols.append([None] * n)
        ct, cv = part.change_type, part.commit_version
        for i in range(n):
            yield tuple(col[i] for col in cols) + (ct, cv)

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint; the log is immutable —
        # but the completed end is another position signal for bounding
        self._note_progress(end["version"])


class LakeCDFDataSource(DataSource):
    """``spark.readStream.format("lake_cdf").option("path", table)`` —
    incremental change-data-feed over the lake table's transaction log.
    ``from_version`` (default 0) = emit changes committed AFTER that
    version, matching ``table_changes(from_version, ...)``.
    ``.option("net", "true")`` lifts the feed from file grain to ROW
    grain (matching ``table_changes(..., net=True)``): rewritten-but-
    unchanged rows vanish, real updates surface as update_preimage/
    update_postimage pairs, a COMPACT commit nets to zero — requires
    the table to have key_cols. Net commits larger than
    ``net_rows_per_bucket`` rows (default 4M) fan out across key-hash
    bucket tasks, capped at ``net_max_buckets`` (default 64).

    Admission control during backlog catch-up:
    ``.option("max_commits_per_trigger", N)`` and/or
    ``.option("max_files_per_trigger", N)`` bound each micro-batch.
    Add ``.option("consumer_id", <id>)`` (one id per stream checkpoint)
    to keep the bound across restarts — it persists a tiny ledger at
    ``<table>/_consumers/<id>.json``; without it, the first trigger
    after a restart whose last batch committed cleanly is unbounded
    (the Python DataSource API never passes the start offset to
    latestOffset, so the position must be learned or persisted)."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def schema(self) -> str:
        snap = laketable.snapshot(
            self.options.get("path"), with_files=False
        )
        cols = ", ".join(f"{c} {t}" for c, t in snap.schema.items())
        return f"{cols}, _change_type string, _commit_version bigint"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _LakeCDFStreamReader(self.options)


def register_lake_cdf(spark) -> None:
    spark.dataSource.register(LakeCDFDataSource)
