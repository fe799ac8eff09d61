"""SparkSession bootstrap tuned for this engine.

Local mode (``local[$SPARK_GRAFT_CPUS]``, single JVM) sizes itself to the
host; the other settings are also the right defaults on a real cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting, join
  strategy demotion) — the primary scale lever at 100 TB.
- ``spark.sql.shuffle.partitions``: for batch queries a *starting* value
  that AQE coalesces at runtime. Stateful streams run with AQE off, so for
  them it is the fixed number of state stores every micro-batch loads and
  commits, recorded in the checkpoint at the query's first start. A cluster
  keeps 32 as AQE's starting value; local mode uses the master's core count
  (``sc.defaultParallelism``): one state store per core per trigger.
- Generated-code cache: Spark compiles each whole-stage-codegen class with
  Janino and caches it by source text, but the cache is a static conf whose
  default (100 entries) is below one pass of the 17 headline catalog entries
  (199-215 distinct classes), so repeating that pass recompiled 160-170 of
  them every time. 4096 holds the whole catalog: an oracle sweep of all 347
  entries at sf0.001 compiles 3,298 classes (4,699 compiles under the
  default), retained for about 24 MB of metaspace and 16 MB of code heap.
  Static: a reused session keeps the cap it started with.
  :func:`codegen_stats` reads the compile counters.
- Local-mode driver heap: half the host's physical memory (MemTotal),
  at most 24g; ``$SPARK_DRIVER_MEMORY`` overrides it.
- Local-mode JIT: the C2 compile thresholds are ten times JDK 17's
  defaults (:data:`LOCAL_JIT_OPTIONS`). A local session is a short-lived
  JVM doing seconds of small work, and under the defaults its C2 compiler
  threads burned a median 45 CPU-seconds, about half the JVM's CPU, in a
  10 s benchmark run over 17 catalog entries at sf0.01 (4 vCPUs): Catalyst,
  Scala-collection and py4j paths that are warm only while planning got
  C2-compiled. With the thresholds raised, C2 compiles only code that stays
  hot (executor loops over real data) and planning code stays on C1: C2
  CPU fell to 17 s, a pass over the entries took 28% less CPU and start-up
  25% less. C1-only (``TieredStopAtLevel=1``) cuts CPU further but slows
  sf0.1 hot loops 1.3-3x; ``CompileThresholdScaling`` also delays C1.
  Cluster mode is unchanged (its executors are long-lived).
  The flags go in ``spark.driver.defaultJavaOptions``, which the launcher
  puts before ``spark.driver.extraJavaOptions``, so a caller's
  ``extraJavaOptions`` flag wins flag by flag and an ``extra_conf`` that
  sets ``defaultJavaOptions`` replaces the policy. JVM flags apply at JVM
  start: a reused session keeps the ones it started with.
  :func:`codegen_stats` reports the JVM's total JIT compile time.
- Local-mode class-data sharing: the driver JVM maps Spark's classes from
  a dynamic CDS archive instead of loading, parsing and verifying about
  15,300 Spark, Scala and Hadoop classes from 287 jars on every start. The
  archive is ``$XDG_CACHE_HOME/zio_analytics_spark/classes-<key>.jsa``
  (default ``~/.cache``); ``<key>`` hashes what the JVM validates an
  archive against: the ``java`` binary, its JDK's ``release`` file, and
  every launch-classpath entry (Spark's ``jars/*`` and
  ``spark.driver.extraClassPath``) with its size and mtime. When the
  archive exists, ``-XX:SharedArchiveFile`` joins :data:`LOCAL_JIT_OPTIONS`
  in ``spark.driver.defaultJavaOptions`` (a caller's ``extraJavaOptions``,
  say ``-Xshare:off``, still wins). When it does not, the one process that
  launches its JVM and takes the ``O_EXCL`` lock file starts with
  ``-XX:ArchiveClassesAtExit=<archive>.<pid>.tmp``; at interpreter exit it
  stops the session, closes the gateway's stdin, waits for the JVM and
  renames the temp file into place only if the JVM exited 0 (a JVM that
  mapped a truncated archive died of SIGBUS, so no partial archive may
  sit at the final path). Every other process starts without an archive,
  and a new session removes the temp and lock files of dead pids. JDK 17
  will not dump with a non-empty directory on the classpath, and Spark's
  launcher puts the conf dir there: when the conf dir holds only
  ``*.template`` files (which Spark never reads), the launch points
  ``SPARK_CONF_DIR`` at an empty directory in the cache; when it holds a
  real file, or ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
  ``SPARK_DIST_CLASSPATH`` would add more classpath, the JVM starts
  without an archive and the environment is left alone. ``-Xlog:cds=off
  -Xlog:cds+dynamic=off`` keep the JVM's ``[cds]`` warnings (signed jars
  skipped while dumping, an archive that does not match) off stdout. The
  first session on a host pays for the archive: its exit waits about
  12 s while the JVM writes 140-200 MB (the classes that session
  loaded); each key keeps one archive on disk, and deleting the cache directory resets it. Measured on 4 vCPUs
  (``perfbench`` ``stream_events``, 10 s, 11 alternating pairs from an
  empty cache): set-up CPU a median 43.3 -> 34.1 s (-21%), lower in every
  pair but the first, whose run dumped the archive (36.4 -> 43.8 s, exit
  14.6 s instead of about 2 s); most of the saving is in the py4j threads
  where Python-driven class loading runs (9.3-9.8 -> 3.6-3.9 s). The
  measured region's CPU and peak RSS stayed within run-to-run spread.
  Cluster mode is unchanged.
- Local-mode stream checkpoints: Spark's FileSystem-based checkpoint
  manager (:data:`LOCAL_CHECKPOINT_FILE_MANAGER`) instead of its default
  FileContext one. Without libhadoop (``NativeIO`` unavailable) each
  FileContext rename asks ``RawLocalFileSystem`` for the destination's link
  status, which forks ``readlink`` through Hadoop's ``Shell``, and every
  micro-batch renames its offsets, commit, state-store deltas and state
  checksum files into place. Both managers write a temp file and rename it
  with the same existence check; ``.crc`` sidecars and Spark's checkpoint
  checksums stay on. One difference: ``FileSystem.rename`` never replaces a
  file, so an "overwrite if possible" create onto an existing file keeps
  the existing one and leaves its temp file behind. Spark's contract makes
  that overwrite best effort; it asks for it on state-store files, which a
  replayed batch rewrites for the same version. Counted over seven
  kill/restart runs of ``streaming.recovery.run_kill_restart`` (RocksDB
  state, local session, 4 vCPUs): after the restart and after both
  queries stopped, six checkpoints held no temp file and one held a
  single pair (``offsets/.2.<uuid>.tmp`` and its ``.crc``) from the
  offset-log write the kill interrupted; no state-store directory held
  one. Nothing removes that pair: it was still there after the stop, and
  state-store maintenance only cleans state-store directories.
  ``test_run_kill_restart_mid_stream`` bounds the leftovers at one pair.
  Measured on 4 vCPUs (``perfbench`` ``stream_events``, 10 s, 10
  alternating pairs): per trigger, state-store commit 0.29-0.36 s ->
  0.02 s, WAL and offset commits 0.03-0.046 s -> 0.01 s each; process
  clones per run 2,922 -> 1,151 and reaped-child CPU about 3.8 -> 2.0 s;
  the measured region's CPU a median 9.14 -> 8.48 s (-7%).
  The ``chmod`` forks remain: ``RawLocalFileSystem.setPermission`` falls
  back to ``Shell`` for every created file (and its ``.crc``) whenever
  ``NativeIO`` is missing, and no conf changes that. Cluster mode is
  unchanged: its checkpoints live on a shared file system whose FileContext
  rename is the primitive Spark expects. An ``extra_conf`` value wins.
- UTC session timezone so results are comparable with the (UTC-naive) DuckDB
  oracle and deterministic across deployments.
- Arrow enabled so the Pandas-UDF escape hatches are vectorized.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "DEFAULT_CONFIG",
    "LOCAL_JIT_OPTIONS",
    "LOCAL_CHECKPOINT_FILE_MANAGER",
    "codegen_stats",
]

DEFAULT_CONFIG: dict[str, str] = {
    # AQE's starting value on a cluster; local mode resizes it (see module doc)
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # The driver's events table stores TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long nanos and convert in sources.parquet.read_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming state at scale would use RocksDB; harmless default locally.
    "spark.sql.shuffle.spill.compress": "true",
    "spark.ui.enabled": "false",
    # Static: above the catalog's working set of generated classes (module doc)
    "spark.sql.codegen.cache.maxEntries": "4096",
}

# Local-mode driver JVM: ten times JDK 17's C2 (tier 4) thresholds of
# 5000 / 600 / 15000 / 40000, so planning-only code stays on C1 (module doc)
LOCAL_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

# Local-mode class-data sharing: without these the JVM prints [cds] lines to
# stdout ("Skipping ...: Signed JAR" while dumping, "Unable to use shared
# archive" on a mismatch) (module doc)
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# How long a dumping session's exit waits for its JVM to write the archive
_DUMP_WAIT_S = 120.0

# Local-mode stream checkpoints: Hadoop FileSystem renames instead of
# FileContext ones, which fork `readlink` without libhadoop (module doc)
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "zio_analytics_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) when
    no cluster master is configured; on a real deployment the submitter's
    ``--master`` wins because an existing session is reused. In local mode
    the shuffle partitions follow the master's core count unless
    ``extra_conf`` sets them.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFIG.items():
        builder = builder.config(k, v)
    extra_conf = extra_conf or {}
    local = os.environ.get("SPARK_LOCAL_MODE", "1") != "0"
    archive = _class_archive(extra_conf) if local else None
    if local:
        # Single-JVM local mode: the driver is the only executor.
        java_options = LOCAL_JIT_OPTIONS
        if archive is not None:
            java_options += " " + archive.options
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or local_driver_memory(),
        ).config("spark.driver.defaultJavaOptions", java_options).config(
            "spark.sql.streaming.checkpointFileManagerClass",
            LOCAL_CHECKPOINT_FILE_MANAGER,
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        spark = archive.launch(builder)
    if local:
        # Stateful streams run with AQE off, so nothing coalesces a fixed
        # 32: every micro-batch would load and commit 32 state stores and
        # stage up to 32 sink files on a 4-core host.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            extra_conf.get(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            ),
        )
    spark.sparkContext.setLogLevel("WARN")
    _hook_scratch_cleanup(spark)
    # Crash-robust scratch hygiene: atexit cleanup cannot run when a prior
    # process was SIGKILLed, so every new session sweeps dead-pid scratch
    # parents (see tmpdirs.sweep_stale) before doing any work of its own.
    from zio_analytics_spark import tmpdirs

    tmpdirs.sweep_stale()
    return spark


class _ClassArchive:
    """One launch of the local driver JVM with class-data sharing: the
    JVM flags, the empty conf dir the launch classpath needs, and, when
    this launch dumps the archive, its temp file and lock (module doc)."""

    def __init__(self, path: str, conf_dir: str, dump: bool):
        self.path, self.conf_dir, self.dump = path, conf_dir, dump
        self.tmp = f"{path}.{os.getpid()}.tmp"
        flag = (
            f"-XX:ArchiveClassesAtExit={self.tmp}" if dump
            else f"-XX:SharedArchiveFile={path}"
        )
        self.options = f"{flag} {_CDS_QUIET}"

    def launch(self, builder: SparkSession.Builder) -> SparkSession:
        """``builder.getOrCreate()`` with ``SPARK_CONF_DIR`` pointed at the
        empty conf dir for the launch only; a dumping launch promotes its
        archive when the interpreter exits."""
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        except BaseException:
            if self.dump:
                self._release()
            raise
        finally:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if self.dump:
            atexit.register(self._promote, spark.sparkContext._gateway.proc)
        return spark

    def _promote(self, proc: subprocess.Popen) -> None:
        """Stop the session, let the JVM exit (it writes the archive to
        the temp file on its way out) and move the archive into place only
        if the JVM exited 0: a partly written archive can crash the JVM
        that maps it."""
        from pyspark import SparkContext

        try:
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.stop()
        except Exception:
            pass  # the JVM's own shutdown hook stops the context
        try:
            proc.stdin.close()  # EOF on stdin makes the gateway exit(0)
            if proc.wait(timeout=_DUMP_WAIT_S) == 0 and os.path.getsize(self.tmp):
                os.replace(self.tmp, self.path)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            self._release()

    def _release(self) -> None:
        for path in (self.tmp, self.path + ".lock"):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


def _class_archive(extra_conf: dict[str, str]) -> _ClassArchive | None:
    """The class-data archive for a local session that launches the driver
    JVM, or None: a reused JVM, a caller's ``defaultJavaOptions``, no
    usable archive path (:func:`_archive_path`), or another live process
    dumping the archive."""
    from pyspark import SparkContext

    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or "spark.driver.defaultJavaOptions" in extra_conf
    ):
        return None
    where = _archive_path(extra_conf)
    if where is None:
        return None
    path, conf_dir = where
    if os.path.isfile(path):
        return _ClassArchive(path, conf_dir, dump=False)
    _sweep_archive_leftovers(os.path.dirname(path))
    try:
        fd = os.open(path + ".lock", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        return None  # another live process is dumping it
    with os.fdopen(fd, "w") as f:
        f.write(str(os.getpid()))
    return _ClassArchive(path, conf_dir, dump=True)


def _archive_path(extra_conf: dict[str, str]) -> tuple[str, str] | None:
    """``(archive, empty conf dir)`` for a local launch with ``extra_conf``,
    or None when the conf dir holds a real file (Spark reads it, so the
    launch is left alone) or a launch-classpath entry is not a file (JDK
    17 will not dump with a non-empty directory on the classpath)."""
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if any(not n.endswith(".template") for n in _listdir(conf_dir)):
        return None
    if any(os.environ.get(v) for v in (
        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    )):
        return None
    extra = [
        p for p in extra_conf.get("spark.driver.extraClassPath", "")
        .split(os.pathsep) if p
    ]
    if not all(os.path.isfile(p) for p in extra):
        return None
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if (
        os.environ.get("JAVA_HOME")
    ) else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME")
        or os.path.join(os.path.expanduser("~"), ".cache"),
        "zio_analytics_spark",
    )
    empty = os.path.join(cache, "spark-conf")
    os.makedirs(empty, exist_ok=True)
    key = _archive_key(
        java, extra + sorted(glob.glob(os.path.join(home, "jars", "*")))
    )
    return os.path.join(cache, f"classes-{key}.jsa"), empty


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _archive_key(java: str, classpath: list[str]) -> str:
    """Hash of what the JVM validates a dynamic archive against: the java
    binary, its JDK's ``release`` file, and every launch-classpath entry
    with its size and mtime."""
    java = os.path.realpath(java)
    h = hashlib.sha256()
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    try:
        with open(release, "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    for path in [java, *classpath]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _sweep_archive_leftovers(cache: str) -> None:
    """Remove the temp and lock files of dumping processes that died
    before their exit hook ran (SIGKILL): a temp file names its pid, a
    lock file holds it."""
    from zio_analytics_spark.tmpdirs import _pid_alive

    for name in _listdir(cache):
        full = os.path.join(cache, name)
        if name.endswith(".tmp"):
            pid = name[: -len(".tmp")].rpartition(".")[2]
        elif name.endswith(".lock"):
            try:
                with open(full) as f:
                    pid = f.read()
            except OSError:
                continue
        else:
            continue
        if pid.isdigit() and not _pid_alive(int(pid)):
            try:
                os.remove(full)
            except FileNotFoundError:
                pass


def local_driver_memory(total_bytes: int | None = None) -> str:
    """Local-mode driver heap: half of physical memory (MemTotal), capped
    at 24g and floored at 1g, in MiB."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(total_bytes // 2, 1 << 30), 24 << 30) >> 20}m"


def codegen_stats(spark: SparkSession) -> dict[str, float]:
    """JVM-wide compile counters since the driver started: Janino compiles
    (generated-code cache misses) and the seconds they took, and the JIT
    compilers' total time (``jit_compile_s``, summed over the C1 and C2
    compiler threads, so it can exceed wall time). Subtract two readings to
    attribute compiles to a region."""
    jvm = spark.sparkContext._jvm
    return {
        "codegen_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "codegen_compile_s": jvm.org.apache.spark.sql.catalyst.expressions
        .codegen.CodeGenerator.compileTime() / 1e9,
        "jit_compile_s": jvm.java.lang.management.ManagementFactory
        .getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }


def _hook_scratch_cleanup(spark: SparkSession) -> None:
    """Wrap ``spark.stop`` so session-scoped scratch dirs (materialized
    dedup/ANN intermediates — see :mod:`zio_analytics_spark.tmpdirs`) are
    removed when the session ends; atexit covers processes that never call
    stop(). Idempotent: getOrCreate may hand back the same session."""
    if getattr(spark, "_zas_scratch_hooked", False):
        return
    original_stop = spark.stop

    def stop_and_cleanup(*args, **kwargs):
        from zio_analytics_spark import tmpdirs

        tmpdirs.cleanup()
        return original_stop(*args, **kwargs)

    spark.stop = stop_and_cleanup
    spark._zas_scratch_hooked = True
