"""``get_spark``'s checkpoint file manager: Spark's FileSystem-based
manager on local masters, Spark's default elsewhere, and a caller's
``extra_conf`` value over either."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from real_time_sliding_window_spark.session import (
    FS_CHECKPOINT_FILE_MANAGER,
    local_master_conf,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.sql.streaming.checkpointFileManagerClass"
CONTEXT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                   "FileContextBasedCheckpointFileManager")


def _created_manager(spark, path: str) -> str:
    """Class of the manager Spark builds for a checkpoint at ``path``."""
    jvm = spark._jvm
    companion = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "CheckpointFileManager$").getField("MODULE$").get(None)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return companion.create(jvm.org.apache.hadoop.fs.Path(path), conf) \
        .getClass().getName()


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]",
                                    "local-cluster[2,1,1024]"])
def test_local_masters_get_filesystem_manager(master):
    assert local_master_conf(master) == {KEY: FS_CHECKPOINT_FILE_MANAGER}


@pytest.mark.parametrize("master", ["spark://h:7077", "yarn",
                                    "k8s://https://h:6443", "localhost"])
def test_cluster_masters_keep_spark_default(master):
    assert local_master_conf(master) == {}


def test_session_uses_filesystem_manager(spark, tmp_path):
    """Fails here, not in every streaming test, if a Spark upgrade moves
    or renames the class."""
    assert spark.conf.get(KEY) == FS_CHECKPOINT_FILE_MANAGER
    assert spark._jvm.java.lang.Class.forName(FS_CHECKPOINT_FILE_MANAGER) \
        .getName() == FS_CHECKPOINT_FILE_MANAGER
    assert _created_manager(spark, str(tmp_path)) == FS_CHECKPOINT_FILE_MANAGER


def test_caller_checkpoint_manager_wins(tmp_path):
    """A caller's ``extra_conf`` keeps its manager on a local master; needs
    a fresh JVM, so it runs in a child process."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        sys.path.insert(0, {os.path.join(ROOT, "tests")!r})
        from real_time_sliding_window_spark import get_spark
        from test_session import _created_manager

        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
            {KEY!r}: {CONTEXT_MANAGER!r},
            "spark.ui.showConsoleProgress": "false",
        }})
        out = {{
            "conf": spark.conf.get({KEY!r}),
            "created": _created_manager(spark, {str(tmp_path)!r}),
        }}
        spark.stop()
        print(json.dumps(out))
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path), RTSW_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="1",
               SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"))
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"conf": CONTEXT_MANAGER, "created": CONTEXT_MANAGER}
