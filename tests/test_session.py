"""Local-mode session sizing: shuffle partitions follow the master's core
count and the driver heap follows physical memory, unless the caller sets
them; the generated-code cache holds a repeated multi-entry pass; the driver
JVM starts with raised C2 compile thresholds; stream checkpoints go through
Hadoop's FileSystem API. The shared test session pins 8 partitions and JVM
flags only apply at JVM start, so the end-to-end checks run in fresh
interpreters."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from zio_analytics_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
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


def _fresh_session(body: str, **env_overrides: str) -> dict:
    """Run ``body`` (which builds its own sessions) in a fresh interpreter,
    so a new driver JVM starts, and return the JSON object it prints last."""
    code = (
        "import json, sys; sys.path.insert(0, %r)\n"
        "from zio_analytics_spark.session import codegen_stats, get_spark\n"
        % REPO
    ) + body
    env = {**os.environ, "SPARK_LOCAL_MODE": "1", **env_overrides}
    env.pop("SPARK_DRIVER_MEMORY", None)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
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
