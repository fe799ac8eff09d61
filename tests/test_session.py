"""Local-mode session sizing: shuffle partitions follow the master's core
count and the driver heap follows physical memory, unless the caller sets
them; the generated-code cache holds a repeated multi-entry pass; the driver
JVM starts with raised C2 compile thresholds and from a cached class-data
archive; stream checkpoints go through Hadoop's FileSystem API. The shared
test session pins 8 partitions and JVM flags only apply at JVM start, so the
end-to-end checks run in fresh interpreters."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from zio_analytics_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
    _archive_path,
    codegen_stats,
    local_driver_memory,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The JIT policy: ten times JDK 17's C2 thresholds of 5000 / 600 / 15000 / 40000
POLICY = {
    "Tier4InvocationThreshold": 50000,
    "Tier4MinInvocationThreshold": 6000,
    "Tier4CompileThreshold": 150000,
    "Tier4BackEdgeThreshold": 400000,
}


def _fresh_code(body: str, **env_overrides: str) -> tuple[list[str], dict]:
    """The command line and environment that run ``body`` in a fresh
    interpreter, so a new driver JVM starts."""
    code = (
        "import json, os, sys; sys.path.insert(0, %r)\n"
        "from zio_analytics_spark.session import codegen_stats, get_spark\n"
        % REPO
    ) + body
    env = {**os.environ, "SPARK_LOCAL_MODE": "1", **env_overrides}
    env.pop("SPARK_DRIVER_MEMORY", None)
    return [sys.executable, "-c", code], env


def _run_fresh(body: str, **env_overrides: str) -> subprocess.CompletedProcess:
    """Run ``body`` (which builds its own sessions) in a fresh interpreter;
    the completed process, whose stdout holds the JVM's too."""
    cmd, env = _fresh_code(body, **env_overrides)
    out = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out


def _fresh_session(body: str, **env_overrides: str) -> dict:
    """Run ``body`` in a fresh interpreter and return the JSON object it
    prints last."""
    out = _run_fresh(body, **env_overrides)
    return json.loads(out.stdout.strip().splitlines()[-1])


# Reads the driver JVM's live values of the C2 thresholds
_READ_TIER4 = (
    "jvm = spark.sparkContext._jvm\n"
    "bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(\n"
    "    jvm.java.lang.Class.forName('com.sun.management.HotSpotDiagnosticMXBean'))\n"
    "rec = {f: int(bean.getVMOption(f).getValue()) for f in %r}\n"
    "rec['jit_compile_s'] = codegen_stats(spark)['jit_compile_s']\n"
    "spark.stop()\n"
    "print(json.dumps(rec))\n" % (list(POLICY),)
)


def test_driver_memory_is_half_of_physical_capped():
    gib = 1 << 30
    assert local_driver_memory(16 * gib) == "8192m"
    assert local_driver_memory(15 * gib + 700 * (1 << 20)) == "8030m"
    assert local_driver_memory(256 * gib) == "24576m"  # the old fixed 24g
    assert local_driver_memory(gib) == "1024m"  # floor


def test_fresh_local_session_sizes_to_its_cores():
    rec = _fresh_session(
        "spark = get_spark('sizing')\n"
        "sc = spark.sparkContext\n"
        "rec = {'dp': sc.defaultParallelism,\n"
        "       'parts': spark.conf.get('spark.sql.shuffle.partitions'),\n"
        "       'mem': sc.getConf().get('spark.driver.memory'),\n"
        "       'codegen_cap': sc.getConf().get('spark.sql.codegen.cache.maxEntries')}\n"
        "spark = get_spark('sizing', extra_conf={'spark.sql.shuffle.partitions': '5'})\n"
        "rec['explicit'] = spark.conf.get('spark.sql.shuffle.partitions')\n"
        "spark.stop()\n"
        "print(json.dumps(rec))\n",
        SPARK_GRAFT_CPUS="3",
    )
    assert rec == {
        "dp": 3, "parts": "3", "mem": local_driver_memory(), "explicit": "5",
        "codegen_cap": "4096",
    }


def test_fresh_local_jvm_raises_c2_thresholds():
    rec = _fresh_session("spark = get_spark('jit')\n" + _READ_TIER4)
    assert rec.pop("jit_compile_s") > 0
    assert rec == POLICY


def test_caller_java_options_win_flag_by_flag():
    """``spark.driver.extraJavaOptions`` comes after the policy on the JVM
    command line, so the caller's flag wins and the others keep the policy."""
    rec = _fresh_session(
        "spark = get_spark('jit', extra_conf={'spark.driver.extraJavaOptions':"
        " '-XX:Tier4InvocationThreshold=7000'})\n" + _READ_TIER4
    )
    rec.pop("jit_compile_s")
    assert rec == {**POLICY, "Tier4InvocationThreshold": 7000}


def _checkpoint_manager(spark, path: str):
    """The checkpoint manager Spark builds for ``path`` under the session's
    Hadoop conf, as a stream's offset, commit and state-store logs get it."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(path),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )


def test_local_checkpoints_use_filesystem_manager(spark, tmp_path):
    """Local checkpoints rename through Hadoop's FileSystem API; an atomic
    create keeps Spark's contract: without overwrite, closing onto an
    existing file raises. With overwrite the attempt is best effort and must
    not raise: ``FileSystem.rename`` never replaces a file, so the first
    complete file stays (Spark asks for overwrite on state-store files,
    which a replayed batch rewrites for the same version)."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == LOCAL_CHECKPOINT_FILE_MANAGER
    manager = _checkpoint_manager(spark, str(tmp_path))
    assert manager.getClass().getName() == LOCAL_CHECKPOINT_FILE_MANAGER

    target = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        str(tmp_path / "log")
    )

    def write(data: bytes, overwrite: bool) -> None:
        out = manager.createAtomic(target, overwrite)
        out.write(data)
        out.close()

    write(b"first", False)
    with pytest.raises(Py4JJavaError, match="destination already exists"):
        write(b"second", False)
    assert (tmp_path / "log").read_bytes() == b"first"
    write(b"third", True)
    assert (tmp_path / "log").read_bytes() == b"first"


def test_cluster_session_keeps_spark_checkpoint_manager(tmp_path):
    """Outside local mode Spark's own FileContext-based manager stays."""
    rec = _fresh_session(
        "sys.path.insert(0, %r)\n" % os.path.join(REPO, "tests")
        + "from test_session import _checkpoint_manager\n"
        "spark = get_spark('cluster')\n"
        "rec = {'conf': spark.conf.get("
        "'spark.sql.streaming.checkpointFileManagerClass', None),\n"
        "       'manager': _checkpoint_manager(spark, %r)"
        ".getClass().getSimpleName()}\n"
        "spark.stop()\n"
        "print(json.dumps(rec))\n" % str(tmp_path),
        SPARK_LOCAL_MODE="0",
    )
    assert rec == {"conf": None, "manager": "FileContextBasedCheckpointFileManager"}


def test_repeated_plans_reuse_generated_code(spark):
    """150 distinct plans (integer literals are inlined into the generated
    source, so each is its own class) run twice: the second round must hit
    Spark's generated-code cache. Under Spark's default 100-entry cache the
    first round's classes are evicted and every plan recompiles."""

    def one_round():
        for i in range(150):
            spark.range(1).select(F.col("id") + i).collect()

    one_round()
    before = codegen_stats(spark)["codegen_compiles"]
    one_round()
    assert codegen_stats(spark)["codegen_compiles"] - before == 0


# Reads the driver JVM's class-data-sharing flags, the archives of the cache
# it has mapped, its SPARK_CONF_DIR, and the cache directory's listing
_READ_CDS = (
    "jvm = spark.sparkContext._jvm\n"
    "cache = os.path.join(os.environ['XDG_CACHE_HOME'], 'zio_analytics_spark')\n"
    "pid = jvm.java.lang.ProcessHandle.current().pid()\n"
    "args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()"
    ".getInputArguments()\n"
    "maps = open('/proc/%d/maps' % pid).read().splitlines()\n"
    "rec = {'cds': [a for a in args if 'Archive' in a or a.startswith('-Xlog:cds')],\n"
    "       'mapped': sorted({l.split()[-1] for l in maps if cache in l}),\n"
    "       'conf_dir': jvm.java.lang.System.getenv('SPARK_CONF_DIR'),\n"
    "       'py_conf_dir': os.environ.get('SPARK_CONF_DIR'),\n"
    "       'cache': sorted(os.listdir(cache)) if os.path.isdir(cache) else None,\n"
    "       'pid': os.getpid()}\n"
    "spark.stop()\n"
    "print(json.dumps(rec))\n"
)
_QUIET = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def _cds_session(
    tmp_path, extra_conf: dict | None = None, **env_overrides: str
) -> tuple[dict, str]:
    """A fresh session caching its archive under ``tmp_path``: the
    :data:`_READ_CDS` record and the interpreter's stdout."""
    out = _run_fresh(
        "spark = get_spark('cds', extra_conf=%r)\n" % (extra_conf or {})
        + _READ_CDS,
        XDG_CACHE_HOME=str(tmp_path), **env_overrides,
    )
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def _jar(path) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    return str(path)


def test_class_archive_promoted_after_clean_exit_then_mapped(
    tmp_path, monkeypatch
):
    """The first session dumps the archive to a temp file under a lock and
    promotes it only once its JVM has exited; the next one maps it. A
    mismatched archive (dumped for another classpath) is not mapped. No
    session prints a ``[cds]`` line."""
    cache = tmp_path / "zio_analytics_spark"
    conf_dir = str(cache / "spark-conf")
    rec, stdout = _cds_session(tmp_path)
    (lock,) = [n for n in rec["cache"] if n.endswith(".lock")]
    archive = str(cache / lock[: -len(".lock")])
    tmp = f"{archive}.{rec['pid']}.tmp"
    assert archive.endswith(".jsa")
    assert rec["cds"] == [f"-XX:ArchiveClassesAtExit={tmp}", *_QUIET]
    assert rec["cache"] == sorted([lock, "spark-conf"]) and rec["mapped"] == []
    assert rec["conf_dir"] == conf_dir
    assert rec["py_conf_dir"] == os.environ.get("SPARK_CONF_DIR")
    assert sorted(os.listdir(cache)) == sorted([os.path.basename(archive), "spark-conf"])
    assert os.path.getsize(archive) > 50 << 20
    assert "[cds" not in stdout

    rec, stdout = _cds_session(tmp_path)
    assert rec["cds"] == [f"-XX:SharedArchiveFile={archive}", *_QUIET]
    assert rec["mapped"] == [archive] and rec["conf_dir"] == conf_dir
    assert sorted(os.listdir(cache)) == sorted([os.path.basename(archive), "spark-conf"])

    extra = {"spark.driver.extraClassPath": _jar(tmp_path / "a.jar")}
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    other, _ = _archive_path(extra)
    assert other != archive
    shutil.copy(archive, other)
    rec, stdout = _cds_session(tmp_path, extra_conf=extra)
    assert rec["cds"] == [f"-XX:SharedArchiveFile={other}", *_QUIET]
    assert rec["mapped"] == []
    assert "[cds" not in stdout


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] in ("Z", "X")
    except FileNotFoundError:
        return True


def test_killed_dumper_promotes_nothing_and_is_swept(tmp_path):
    """A dumping interpreter killed with SIGKILL never runs its exit hook:
    its orphaned JVM still writes the archive to the temp file, which stays
    unpromoted; the next session removes that temp file and the lock and
    takes the dump over."""
    cache = tmp_path / "zio_analytics_spark"
    log = tmp_path / "stdout"
    cmd, env = _fresh_code(
        "spark = get_spark('cds')\n"
        "jvm = spark.sparkContext._jvm\n"
        "print(json.dumps({'pid': os.getpid(),"
        " 'jvm': jvm.java.lang.ProcessHandle.current().pid()}), flush=True)\n"
        "import time; time.sleep(600)\n",
        XDG_CACHE_HOME=str(tmp_path),
    )
    with open(log, "w") as out:
        child = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.DEVNULL)
    try:
        deadline = time.monotonic() + 240
        while not log.read_text().strip() and time.monotonic() < deadline:
            assert child.poll() is None
            time.sleep(0.5)
        dead = json.loads(log.read_text().strip().splitlines()[-1])
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()
    deadline = time.monotonic() + 120
    while not _gone(dead["jvm"]) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert _gone(dead["jvm"])
    names = os.listdir(cache)
    assert not [n for n in names if n.endswith(".jsa")]
    (tmp,) = [n for n in names if n.endswith(f".{dead['pid']}.tmp")]
    (lock,) = [n for n in names if n.endswith(".lock")]
    assert (cache / lock).read_text() == str(dead["pid"])

    rec, _ = _cds_session(tmp_path)
    assert tmp not in rec["cache"] and not any(str(dead["pid"]) in n for n in rec["cache"])
    assert (lock in rec["cache"]) and rec["cds"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert sorted(os.listdir(cache)) == sorted([lock[: -len(".lock")], "spark-conf"])


def test_conf_dir_with_a_real_file_gets_no_archive(tmp_path):
    """Spark reads a conf dir that holds more than templates, so the launch
    keeps it and starts without an archive."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    rec, _ = _cds_session(tmp_path, SPARK_CONF_DIR=str(conf))
    assert rec["cds"] == [] and rec["cache"] is None
    assert rec["conf_dir"] == rec["py_conf_dir"] == str(conf)


def test_cluster_session_gets_no_archive(tmp_path):
    rec, _ = _cds_session(tmp_path, SPARK_LOCAL_MODE="0")
    assert rec["cds"] == [] and rec["cache"] is None
    assert rec["py_conf_dir"] == os.environ.get("SPARK_CONF_DIR")
