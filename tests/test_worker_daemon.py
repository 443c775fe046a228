"""The package's Python worker daemon (worker_daemon.py).

The backport is checked without Spark on a zip built here; the Spark tests
check that ``get_spark`` sessions fork their workers from the package's
daemon unless the caller configures another one, and only at the first
Python stage.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from real_time_sliding_window_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module; the zipimporter patch,
    sys.path and the imported modules are restored afterwards."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"rtsw_zip_probe_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(path)
    for name in ("rtsw_zip_probe_a", "rtsw_zip_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("rtsw_zip_probe_a")
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths whose zip directory gets parsed."""
    seen: list[str] = []
    read = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter invalidation is lazy from CPython 3.13")
class TestZipInvalidationBackport:
    def test_stock_invalidation_rereads_every_time(self, archive, reads):
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 2

    def test_unchanged_archive_not_reread(self, archive, reads):
        worker_daemon.install()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0
        assert importlib.import_module("rtsw_zip_probe_a").VALUE == "a"

    def test_rewritten_archive_is_reread(self, archive, reads):
        worker_daemon.install()
        _write_zip(archive, {"rtsw_zip_probe_a": "VALUE = 'a'\n",
                             "rtsw_zip_probe_b": "VALUE = 'b'\n"})
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("rtsw_zip_probe_b").VALUE == "b"

    def test_deleted_archive_clears_cache(self, archive):
        worker_daemon.install()
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module("rtsw_zip_probe_b")


def test_install_is_noop_from_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_session_workers_run_package_daemon(spark):
    def probe(it):
        import zipimport

        import pandas as pd

        from real_time_sliding_window_spark import worker_daemon

        for _ in it:
            pass
        yield pd.DataFrame({"patched": [
            zipimport.zipimporter.invalidate_caches
            is worker_daemon._invalidate_caches
        ]})

    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert conf == "real_time_sliding_window_spark.worker_daemon"
    rows = spark.range(4).repartition(4).mapInPandas(probe, "patched boolean").collect()
    expected = sys.version_info < (3, 13)
    assert [r.patched for r in rows] == [expected] * 4


def _run_child(tmp_path, script: str):
    """Run ``script`` in a child Python with a small local[1] session; returns
    the JSON object on its last stdout line."""
    env = dict(os.environ, TMPDIR=str(tmp_path), RTSW_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="1",
               SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"))
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_caller_daemon_module_wins(tmp_path):
    """A caller's ``extra_conf`` keeps its daemon; needs a fresh JVM, so it
    runs in a child process."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        from real_time_sliding_window_spark import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
            "spark.python.daemon.module": "pyspark.daemon",
            "spark.ui.showConsoleProgress": "false",
        }})

        def probe(it):
            import zipimport
            import pandas as pd
            for _ in it:
                pass
            yield pd.DataFrame({{"module": [
                zipimport.zipimporter.invalidate_caches.__module__]}})

        out = {{
            "conf": spark.sparkContext.getConf().get("spark.python.daemon.module"),
            "module": spark.range(1).mapInPandas(probe, "module string").first().module,
        }}
        spark.stop()
        print(json.dumps(out))
    """)
    assert _run_child(tmp_path, script) == {"conf": "pyspark.daemon",
                                             "module": "zipimport"}


def test_session_starts_no_python_worker(tmp_path):
    """``get_spark`` forks no Python daemon or worker under the JVM; the
    first Python stage does. Needs a fresh JVM, so it runs in a child
    process, and reads the process tree from /proc only."""
    script = textwrap.dedent(f"""
        import json, os, sys
        sys.path.insert(0, {ROOT!r})
        from pyspark import SparkContext
        from real_time_sliding_window_spark import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
            "spark.ui.showConsoleProgress": "false",
        }})
        jvm = SparkContext._gateway.proc.pid

        def python_workers():
            children = {{}}
            for d in filter(str.isdigit, os.listdir("/proc")):
                try:
                    with open(f"/proc/{{d}}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                children.setdefault(ppid, []).append(int(d))
            out, todo = [], list(children.get(jvm, ()))
            while todo:
                pid = todo.pop()
                todo.extend(children.get(pid, ()))
                try:
                    with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                        cmd = f.read().replace(b"\\0", b" ").decode()
                except OSError:
                    continue
                if "worker_daemon" in cmd or "pyspark.daemon" in cmd:
                    out.append(cmd)
            return out

        def identity(it):
            yield from it

        out = {{"after_get_spark": python_workers()}}
        spark.range(1).mapInPandas(identity, "id long").collect()
        out["after_python_stage"] = python_workers()
        spark.stop()
        print(json.dumps(out))
    """)
    out = _run_child(tmp_path, script)
    assert out["after_get_spark"] == []
    assert out["after_python_stage"]
