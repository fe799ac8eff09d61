"""One benchmark run of one workload, in a fresh interpreter.

``run.py`` starts this file with the path of a JSON spec and reads the JSON
result it writes. Set-up runs from the moment ``run.py`` spawned this process
until the workload is ready: interpreter start, imports, JVM launch, session
creation and the warm-up. ``setup_s`` is the CPU time of those steps and
``setup_wall_s`` their wall time.

Workloads:

- ``batch_light``: the 17 ``catalog.bench_queries()`` entries. Set-up runs
  each once with ``collect()`` (the warm-up, whose rows the DuckDB oracle
  checks afterwards); the timed region then runs whole passes, each in a
  seed-shuffled order, every entry as Python build plus a ``noop`` write.
- ``stream_events``: a watermarked tumbling-window fold per user over a
  parquet file stream, committed to a lake table from ``foreachBatch``. The
  first files are processed during set-up; the rest are released on a fixed
  clock by a generator thread (open loop).
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
import traceback

from measure import (
    Spans,
    cpu_times,
    dir_bytes,
    event_log_digest,
    median,
    pct,
    peak_rss_mb,
    steal_share,
    tail_pct,
    tree_cpu_s,
)

LAG_LIMIT_S = 60.0
PASS_EVERY_S = 10.0
# per-layer values of layers a workload does not use
LAYER_DEFAULTS = {
    "catalyst.analysis_s": 0.0,
    "catalyst.optimization_s": 0.0,
    "catalyst.planning_s": 0.0,
    "streaming.triggers": 0,
    "streaming.state_rows": 0,
    "streaming.state_mem_bytes": 0,
    "streaming.dropped_by_watermark": 0,
    "streaming.rows_per_busy_s": 0.0,
    "laketable.commits": 0,
    "laketable.files_per_commit": 0.0,
    "laketable.bytes_per_row": 0.0,
    "tmpdirs.scratch_bytes": 0,
}


def _tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile with ten samples beyond
    it, but never below p90 (a short sample reports p90 and says so)."""
    p = max(90, tail_pct(len(samples)))
    return pct(samples, p), p


def _phase_s(qe, name: str) -> float:
    opt = qe.tracker().phases().get(name)
    return opt.get().durationMs() / 1000 if opt.isDefined() else 0.0


class Run:
    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.seed = spec["seed"]
        self.trace = bool(spec["trace"])
        self.spans = Spans()
        self.wall_offset = time.time() - time.monotonic()
        self.failures: list[dict] = []
        self.attempted = 0
        self.layer: dict = dict(LAYER_DEFAULTS)
        self.report: dict = {}
        self.spark = None
        self.wall: dict = {}
        self.event_log_dir = os.path.join(spec["work_dir"], "eventlog")
        # the measured region: (start, end) on the monotonic clock, how many
        # passes it held, and the job-group prefixes of its jobs (None: all
        # jobs submitted inside the region)
        self.region: tuple[float, float] = (0.0, 0.0)
        self.passes = 1
        self.job_groups: set[str] | None = None

    # -- session ---------------------------------------------------------
    def start_session(self, root: int) -> None:
        from zio_analytics_spark.session import get_spark

        extra = None
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        with self.spans.span("session", root):
            self.spark = get_spark("perfbench", extra_conf=extra)

    def validity(self) -> dict:
        import pyarrow
        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark.driver.memory": sc.getConf().get("spark.driver.memory", "(Spark default)"),
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": self.spark.version,
            "pyspark_version": pyspark.__version__,
            "pyarrow_version": pyarrow.__version__,
            "loadavg": os.getloadavg(),
        }

    def event_log_layers(self, keep_job) -> dict:
        logs = [os.path.join(self.event_log_dir, n) for n in os.listdir(self.event_log_dir)]
        return event_log_digest(max(logs, key=os.path.getmtime), keep_job)

    # -- batch_light -----------------------------------------------------
    def batch_light(self) -> dict:
        import duckdb

        from zio_analytics_spark import catalog, tmpdirs
        from zio_analytics_spark.sources.parquet import TABLES
        from verify_oracle import norm_rows

        data = self.spec["data_dir"]
        rng = random.Random(self.seed)
        root = self.spans.add("setup", self.spec["spawned_at"], float("nan"), None)
        self.start_session(root)
        spark = self.spark
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        names = sorted(catalog.bench_queries())
        warm: dict[str, dict] = {}
        with self.spans.span("warmup", root) as wid:
            for name in rng.sample(names, len(names)):
                group = f"warm:{name}"
                sc.setJobGroup(group, group)
                try:
                    with self.spans.span(f"warm:{name}", wid):
                        df = catalog.CATALOG[name].fn(spark, data)
                        eager = len(tracker.getJobIdsForGroup(group))
                        rows = [tuple(r) for r in df.collect()]
                    warm[name] = {"cols": df.columns, "rows": rows, "eager_jobs": eager}
                except Exception:  # a failing entry is reported, never fatal
                    warm[name] = {"error": traceback.format_exc(limit=3)}
        setup_end = time.monotonic()
        setup_cpu = tree_cpu_s()
        self.spans.items[root]["end"] = setup_end

        ok = [n for n in names if "error" not in warm[n]]
        # whole passes only: one per PASS_EVERY_S of --seconds, at least one
        passes: list[dict] = []
        scratch = 0
        for k in range(max(1, int(self.spec["seconds"] // PASS_EVERY_S))):
            order = rng.sample(ok, len(ok))
            entries: dict[str, dict] = {}
            with self.spans.span(f"pass:{k}") as pid:
                for name in order:
                    gb, ga = f"p{k}:build:{name}", f"p{k}:action:{name}"
                    sc.setJobGroup(gb, name)
                    c0 = tree_cpu_s()
                    t0 = time.monotonic()
                    df = catalog.CATALOG[name].fn(spark, data)
                    t1 = time.monotonic()
                    sc.setJobGroup(ga, name)
                    t2 = time.monotonic()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.monotonic()
                    c1 = tree_cpu_s()
                    eid = self.spans.add(f"entry:{name}", t0, t3, pid)
                    self.spans.add(f"build:{name}", t0, t1, eid)
                    self.spans.add(f"action:{name}", t2, t3, eid)
                    e = {
                        "build_s": t1 - t0,
                        "action_s": t3 - t2,
                        "cpu_s": c1 - c0,
                        "eager_jobs": len(tracker.getJobIdsForGroup(gb)),
                        "action_jobs": len(tracker.getJobIdsForGroup(ga)),
                    }
                    if self.trace:
                        qe = df._jdf.queryExecution()
                        qe.optimizedPlan()
                        qe.executedPlan()
                        for ph in ("analysis", "optimization", "planning"):
                            e[f"catalyst.{ph}_s"] = _phase_s(qe, ph)
                    entries[name] = e
                    scratch = max(scratch, dir_bytes(tmpdirs.process_parent()))
            passes.append({
                "entries": entries,
                "busy_s": sum(e["build_s"] + e["action_s"] for e in entries.values()),
                "cpu_s": sum(e["cpu_s"] for e in entries.values()),
            })
        measure_end = time.monotonic()

        # same-work guard: a repeat must launch the jobs the first run did
        for name in ok:
            eager = {p["entries"][name]["eager_jobs"] for p in passes} | {warm[name]["eager_jobs"]}
            total = {p["entries"][name]["eager_jobs"] + p["entries"][name]["action_jobs"] for p in passes}
            if len(eager) > 1 or len(total) > 1:
                self.failures.append({"entry": name, "why": f"job count changed on repeat: eager {sorted(eager)}, total {sorted(total)}"})

        rss, rss_parts = peak_rss_mb()

        # correctness, outside the timed region: warm-up rows vs DuckDB
        check_t0 = time.monotonic()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        self.attempted = len(names)
        checked = 0
        for name in names:
            w = warm[name]
            if "error" in w:
                self.failures.append({"entry": name, "why": "spark error", "detail": w["error"]})
                continue
            oracle = catalog.CATALOG[name].oracle
            if oracle is None:
                continue
            res = con.execute(oracle)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            checked += 1
            if sorted(o_cols) != sorted(w["cols"]):
                why = f"columns spark={sorted(w['cols'])} duckdb={sorted(o_cols)}"
            elif len(o_rows) != len(w["rows"]):
                why = f"rowcount spark={len(w['rows'])} duckdb={len(o_rows)}"
            elif norm_rows(w["rows"], w["cols"]) != norm_rows(o_rows, o_cols):
                why = "values differ"
            else:
                continue
            self.failures.append({"entry": name, "why": why})
        con.close()
        self.report["check_s"] = time.monotonic() - check_t0

        # one sample per entry: its median over the passes
        entry_s = {n: median([p["entries"][n]["build_s"] + p["entries"][n]["action_s"] for p in passes]) for n in ok}
        entry_cpu = {n: median([p["entries"][n]["cpu_s"] for p in passes]) for n in ok}
        lat, ops = list(entry_s.values()), list(entry_cpu.values())
        tail, tail_p = _tail(lat)
        e2e = {
            "setup_s": setup_cpu,
            "work_cpu_s": median([p["cpu_s"] for p in passes]),
            "op_cpu_p50_s": median(ops),
            "op_cpu_tail_s": _tail(ops)[0],
        }
        self.wall = {
            "setup_wall_s": setup_end - self.spec["spawned_at"],
            "latency_p50_s": median(lat),
            "latency_tail_s": tail,
            "busy_s": median([p["busy_s"] for p in passes]),
            "peak_rss_mb": rss,
        }
        samples = {"work_cpu_s": len(passes), "op_cpu_p50_s": len(ops), "op_cpu_tail_s": len(ops),
                   "latency_p50_s": len(lat), "latency_tail_s": len(lat), "busy_s": len(passes)}

        def per_pass(key: str) -> float:
            return median([sum(e.get(key, 0.0) for e in p["entries"].values()) for p in passes])

        actions = [e["action_s"] for p in passes for e in p["entries"].values()]
        self.layer.update({
            "catalog.build_s": per_pass("build_s"),
            "catalog.eager_jobs": per_pass("eager_jobs"),
            "exec.unit_p50_s": median(actions),
            "exec.unit_tail_s": _tail(actions)[0],
            "tmpdirs.scratch_bytes": scratch,
        })
        self.report.update({
            "tail_percentile": tail_p,
            "oracle_checked": checked,
            "passes": len(passes),
            "entry_s": entry_s,
            "entry_cpu_s": entry_cpu,
            "jobs_per_entry": {n: [p["entries"][n]["eager_jobs"] + p["entries"][n]["action_jobs"] for p in passes] for n in ok},
            "warmup_s": {n: next(s["end"] - s["start"] for s in self.spans.items if s["name"] == f"warm:{n}") for n in names},
            "peak_rss_parts_mb": rss_parts,
        })
        if self.trace:
            for ph in ("analysis", "optimization", "planning"):
                self.layer[f"catalyst.{ph}_s"] = per_pass(f"catalyst.{ph}_s")
            self.report["layer_per_entry"] = {
                n: {k: v for k, v in passes[0]["entries"][n].items()} for n in ok
            }
        self.region, self.passes = (setup_end, measure_end), len(passes)
        self.job_groups = {f"p{k}:" for k in range(len(passes))}
        failed = len({f["entry"] for f in self.failures})
        return {"e2e": e2e, "samples": samples, "failed": failed}

    # -- stream_events ---------------------------------------------------
    def stream_events(self) -> dict:
        import duckdb
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from pyspark.sql.streaming import StreamingQueryListener

        from datagen import STREAM_SCHEMA
        from zio_analytics_spark.datastream import DataStream
        from zio_analytics_spark.sources import laketable as lake
        from zio_analytics_spark.windows import tumbling
        from verify_oracle import norm_rows

        plan, meta = self.spec["stream_plan"], self.spec["stream_meta"]
        work = self.spec["work_dir"]
        src, ckpt, table = (os.path.join(work, d) for d in ("src", "ckpt", "table"))
        os.makedirs(src)
        files_dir, files = meta["files_dir"], meta["files"]
        warm_n = plan["warmup_files"]
        window_us, delay_us = plan["window_s"] * 1_000_000, plan["delay_s"] * 1_000_000

        root = self.spans.add("setup", self.spec["spawned_at"], float("nan"), None)
        self.start_session(root)
        spark = self.spark
        progress: list = []
        if self.trace:
            class Collect(StreamingQueryListener):
                def onQueryStarted(self, event):
                    pass

                def onQueryProgress(self, event):
                    progress.append(json.loads(event.progress.json))

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    pass

            spark.streams.addListener(Collect())
        commits: list[tuple] = []
        cpu_marks: list[tuple[float, float]] = []  # (time, tree CPU) at each sink call
        with self.spans.span("warmup", root) as wid:
            lake.create_table(
                spark.createDataFrame(
                    [], "window_start timestamp, window_end timestamp, user_id bigint, n bigint, total double"
                ).coalesce(1),
                table,
                key_cols=["user_id"],
            )
            os.rename(os.path.join(files_dir, files[0]), os.path.join(src, files[0]))
            with self.spans.span("catalog:pipeline", wid):
                jobs_before = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])
                t0 = time.monotonic()
                out = (
                    # one file per micro-batch: the batches, and so the work,
                    # are the same under any host speed
                    DataStream(
                        spark.readStream.schema(STREAM_SCHEMA)
                        .option("maxFilesPerTrigger", 1)
                        .parquet(src)
                    )
                    .assign_timestamps("ts", f"{plan['delay_s']} seconds")
                    .group_by("user_id")
                    .fold_window(
                        tumbling(f"{plan['window_s']} seconds"),
                        n=F.count("*"),
                        total=F.round(F.sum("value"), 2),
                    )
                    .to_df()
                )
                build_s = time.monotonic() - t0
                eager = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []) - jobs_before
            pipeline_analysis_s = _phase_s(out._jdf.queryExecution(), "analysis")
            running: dict = {}  # the started query, once start() returned
            phases: dict[int, dict] = {}  # batch id -> Catalyst phases (traced run)

            def sink(df, batch_id):
                cpu_marks.append((time.monotonic(), tree_cpu_s()))
                if self.trace and "q" in running:
                    # the micro-batch's own plan, planned before the sink ran
                    ie = running["q"]._jsq.streamingQuery().lastExecution()
                    phases[batch_id] = {ph: _phase_s(ie, ph) for ph in ("analysis", "optimization", "planning")}
                a = time.monotonic()
                version = lake.append_stream_batch(df, table, batch_id)
                commits.append((batch_id, version, a, time.monotonic()))

            q = (
                out.writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            running["q"] = q
            q.processAllAvailable()
            # more warm-up micro-batches: the JIT is still compiling the
            # per-trigger path after the first one
            for name in files[1:warm_n]:
                os.rename(os.path.join(files_dir, name), os.path.join(src, name))
            q.processAllAvailable()
        setup_end = time.monotonic()
        setup_cpu = tree_cpu_s()
        self.spans.items[root]["end"] = setup_end

        # open-loop generator: file i >= warm_n is due at (i - warm_n) * period
        released: list[tuple[float, float]] = []  # (due, actual)

        def generate() -> None:
            for i, name in enumerate(files[warm_n:]):
                due = setup_end + i * plan["period_s"]
                time.sleep(max(0.0, due - time.monotonic()))
                os.rename(os.path.join(files_dir, name), os.path.join(src, name))
                released.append((due, time.monotonic()))

        gen = threading.Thread(target=generate, name="perfbench-generator")
        with self.spans.span("stream") as sid:
            gen.start()
            gen.join()
            # drain: wait for the batch that runs at the final watermark
            final_wm_ms = meta["final_wm_us"] // 1000
            limit = time.monotonic() + LAG_LIMIT_S
            while time.monotonic() < limit:
                recent = progress if self.trace else [_as_dict(p) for p in q.recentProgress]
                if any(_wm_ms(p) >= final_wm_ms for p in recent):
                    break
                time.sleep(0.1)
            measure_end = time.monotonic()
        work_cpu = tree_cpu_s() - setup_cpu
        if not self.trace:
            progress = [_as_dict(p) for p in q.recentProgress]
        rss, rss_parts = peak_rss_mb()
        q.stop()

        # per-trigger records of the measured window (trigger start >= setup end)
        t0_wall = setup_end + self.wall_offset
        trig = [p for p in progress if _ts_s(p["timestamp"]) >= t0_wall - 0.001]
        for p in trig:
            start = _ts_s(p["timestamp"]) - self.wall_offset
            tid = self.spans.add(f"trigger:{p['batchId']}", start, start + p["durationMs"].get("triggerExecution", 0) / 1000, sid)
            for bid, _v, a, b in commits:
                if bid == p["batchId"]:
                    self.spans.add(f"commit:{bid}", a, b, tid)
        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in trig) / 1000

        # which windows each commit published, from the table's own log
        commit_at = {v: b for _bid, v, _a, b in commits if v is not None}
        snap_prev: set = set()
        window_commit: dict[int, float] = {}
        rows: list[tuple] = []
        files_per_commit, bytes_total = [], 0
        for v in range(1, lake.latest_version(table) + 1):
            snap = lake.snapshot(table, v)
            new = [p for p in snap.files if p not in snap_prev]
            snap_prev = set(snap.files)
            files_per_commit.append(len(new))
            for rel in new:
                path = os.path.join(table, rel)
                bytes_total += os.path.getsize(path)
                t = pq.read_table(path).to_pylist()
                rows.extend((r["window_start"], r["window_end"], r["user_id"], r["n"], r["total"]) for r in t)
                for r in t:
                    window_commit.setdefault(_us(r["window_end"]), commit_at.get(v, float("nan")))

        # lag per emitted window: commit return - due time of the file whose
        # events first moved the watermark past window end
        file_due = [setup_end + max(0, i - warm_n) * plan["period_s"] for i in range(len(files))]
        cummax, m = [], 0
        for x in meta["file_max_us"]:
            m = max(m, x)
            cummax.append(m // 1000 * 1000 - delay_us)
        lags, late_windows = [], 0
        for end_us, committed in sorted(window_commit.items()):
            closer = next((i for i, wm in enumerate(cummax) if wm >= end_us), None)
            if closer is None or closer < warm_n:
                continue  # closed during set-up
            lag = committed - file_due[closer]
            lags.append(lag)
            late_windows += lag > LAG_LIMIT_S

        # oracle: DuckDB over the generated files, on-time events, windows
        # closed by the final watermark
        con = duckdb.connect()
        expected = con.execute(f"""
            SELECT (epoch_us(e.ts) // {window_us}) * {window_us} AS ws, user_id,
                   count(*) AS n, round(sum(value), 2) AS total
            FROM read_parquet('{src}/*.parquet') e
            JOIN read_parquet('{meta['truth']}') t USING (event_id)
            WHERE NOT t.late
            GROUP BY 1, 2
            HAVING ws + {window_us} <= {meta['final_wm_us']}
        """).fetchall()
        con.close()
        want: dict[int, list] = {}
        for ws, uid, n, total in expected:
            want.setdefault(ws + window_us, []).append((ws, ws + window_us, uid, n, total))
        got: dict[int, list] = {}
        for ws, we, uid, n, total in rows:
            got.setdefault(_us(we), []).append((_us(ws), _us(we), uid, n, total))
        cols = ["window_start", "window_end", "user_id", "n", "total"]
        wrong = [w for w in sorted(set(want) | set(got)) if norm_rows(want.get(w, []), cols) != norm_rows(got.get(w, []), cols)]
        self.attempted = len(set(want) | set(got))
        for w in wrong[:5]:
            self.failures.append({"window_end_us": w, "why": f"rows differ: expected {len(want.get(w, []))}, table {len(got.get(w, []))}"})
        if len(wrong) > 5:
            self.failures.append({"why": f"{len(wrong) - 5} more windows differ"})
        if late_windows:
            self.failures.append({"why": f"{late_windows} windows committed later than {LAG_LIMIT_S} s"})
        n_failed = len(wrong) + late_windows

        tail, tail_p = _tail(lags)
        # CPU per micro-batch: between consecutive sink calls of the window
        marks = [c for t, c in cpu_marks if t >= setup_end]
        ops = [b - a for a, b in zip(marks, marks[1:])]
        e2e = {
            "setup_s": setup_cpu,
            "work_cpu_s": work_cpu,
            "op_cpu_p50_s": median(ops),
            "op_cpu_tail_s": _tail(ops)[0],
        }
        self.wall = {
            "setup_wall_s": setup_end - self.spec["spawned_at"],
            "latency_p50_s": median(lags),
            "latency_tail_s": tail,
            "busy_s": busy,
            "peak_rss_mb": rss,
        }
        samples = {"work_cpu_s": 1, "op_cpu_p50_s": len(ops), "op_cpu_tail_s": len(ops),
                   "latency_p50_s": len(lags), "latency_tail_s": len(lags), "busy_s": len(trig)}

        # per-trigger layer numbers
        def dur(key: str) -> list[float]:
            return [p["durationMs"].get(key, 0) / 1000 for p in trig]

        ex = dur("triggerExecution")
        state = [op for p in trig for op in p.get("stateOperators", [])]
        last_state = trig[-1].get("stateOperators", []) if trig else []
        in_rows = sum(p.get("numInputRows", 0) for p in trig)
        self.layer.update({
            "catalog.build_s": build_s,
            "catalog.eager_jobs": eager,
            "exec.unit_p50_s": median(ex),
            "exec.unit_tail_s": _tail(ex)[0],
            "streaming.triggers": len(trig),
            "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
            "streaming.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_state),
            "streaming.dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for op in state),
            "streaming.rows_per_busy_s": in_rows / busy if busy else 0.0,
            "laketable.commits": len(files_per_commit),
            "laketable.files_per_commit": sum(files_per_commit) / len(files_per_commit) if files_per_commit else 0.0,
            "laketable.bytes_per_row": bytes_total / len(rows) if rows else 0.0,
        })
        if self.trace:
            timed = [phases.get(p["batchId"], {}) for p in trig]
            self.layer["catalyst.analysis_s"] = pipeline_analysis_s + sum(t.get("analysis", 0.0) for t in timed)
            for ph in ("optimization", "planning"):
                self.layer[f"catalyst.{ph}_s"] = sum(t.get(ph, 0.0) for t in timed)

        # report-only: stream-layer times with no batch_light counterpart
        measured = [c for c in commits if c[2] >= setup_end]
        commit_s = [b - a for _bid, _v, a, b in measured]
        versions = [v for _bid, v, _a, _b in measured if v is not None]
        pickup = []
        done = 0  # released files consumed so far
        for p in trig:
            k = round(p.get("numInputRows", 0) / plan["events_per_file"])
            start = _ts_s(p["timestamp"]) - self.wall_offset
            pickup.extend(start - at for _due, at in released[done:done + k])
            done += k
        lateness = [a - d for d, a in released]
        self.report.update({
            "tail_percentile": tail_p,
            "stream_busy_frac": busy / (measure_end - setup_end),
            "windows_emitted": len(window_commit),
            "lag_samples": len(lags),
            "generator_lateness_s": {"p50": median(lateness), "max": max(lateness) if lateness else 0.0},
            "streaming.trigger_p50_s": median(ex),
            "streaming.trigger_tail_s": _tail(ex)[0],
            **{f"streaming.{k}_s": median(dur(k)) for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")},
            "streaming.pickup_wait_s": median(pickup),
            "streaming.state_commit_s": median([sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])) / 1000 for p in trig]),
            "laketable.commit_p50_s": median(commit_s),
            "laketable.commit_tail_s": _tail(commit_s)[0] if commit_s else float("nan"),
            "laketable.commit_growth_s": _slope(versions, commit_s) * 100,
            "progress_events": len(progress),
            "peak_rss_parts_mb": rss_parts,
        })
        self.region = (setup_end, measure_end)
        return {"e2e": e2e, "samples": samples, "failed": n_failed}

    def finish(self, res: dict, cpu0: list[int]) -> dict:
        validity = self.validity()
        t0 = time.monotonic()
        self.spark.stop()
        self.report["stop_s"] = time.monotonic() - t0
        start, end = self.region
        if self.trace:
            groups = self.job_groups
            t0w, t1w = start + self.wall_offset, end + self.wall_offset

            def keep(props: dict, submit_s: float) -> bool:
                if groups is not None:
                    g = props.get("spark.jobGroup.id") or ""
                    return any(g.startswith(x) for x in groups)
                return t0w <= submit_s <= t1w

            ev = self.event_log_layers(keep)
            cores = len(os.sched_getaffinity(0))
            for k, v in ev.items():
                self.layer[k] = v / self.passes
            self.layer["executor.busy_frac"] = ev["executor.run_s"] / (cores * (end - start))
            self.report["layer_self_s"] = self.spans.self_times()
            self.report["spans"] = self.spans.items
        validity["steal_share"] = steal_share(cpu0, cpu_times())
        n_failed = res["failed"]
        return {
            "correct": n_failed == 0,
            "attempted": max(1, self.attempted),
            "failed": n_failed,
            "failures": self.failures,
            "e2e": res["e2e"],
            "samples": res["samples"],
            "wall": self.wall,
            "per_layer": {
                **{k: v for k, v in res["e2e"].items() if k.startswith("op_cpu_")},
                **self.layer,
                **{f"wall.{k}": v for k, v in self.wall.items()},
            } if self.trace else {},
            "report": self.report,
            "validity": validity,
        }


def _as_dict(progress) -> dict:
    return progress if isinstance(progress, dict) else json.loads(progress.json)


def _ts_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _wm_ms(progress: dict) -> int:
    wm = (progress.get("eventTime") or {}).get("watermark")
    return int(_ts_s(wm) * 1000) if wm else 0


def _us(ts) -> int:
    """Epoch microseconds of a pyarrow-decoded timestamp (naive = UTC)."""
    from datetime import timezone

    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return round(ts.timestamp() * 1_000_000)


def _slope(xs: list[float], ys: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo_root"])
    sys.path.insert(1, os.path.join(spec["repo_root"], "scripts"))
    cpu0 = cpu_times()
    run = Run(spec)
    res = getattr(run, spec["workload"])()
    out = run.finish(res, cpu0)
    out["report"]["finished_at"] = time.monotonic()
    with open(spec["out_path"], "w") as f:
        json.dump(out, f, default=str)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
