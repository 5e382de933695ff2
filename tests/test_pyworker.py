"""The Python daemon (``event_store_spark._pyworker``): its change-aware
``invalidate_caches`` on its own, the ``get_spark`` wiring (daemon and
driver JVM options), and a live session's workers and JVM."""

from __future__ import annotations

import importlib.machinery
import importlib.util
import os
import sys
import types
import uuid
import zipfile
import zipimport
from importlib._bootstrap_external import _NamespacePath

import pytest
from pyspark.sql import SparkSession

from event_store_spark import _pyworker
from event_store_spark.session import get_spark


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def on_path():
    """Put path entries first on ``sys.path``; forget them, their
    importers and the modules imported from them afterwards."""
    added: list[str] = []
    before = set(sys.modules)

    def add(entry) -> str:
        entry = str(entry)
        sys.path.insert(0, entry)
        added.append(entry)
        return entry

    yield add
    for entry in added:
        sys.path.remove(entry)
        for key in [k for k in sys.path_importer_cache if k.startswith(entry)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(entry, None)
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


def _unique(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def test_unchanged_archive_is_not_reread(tmp_path, reads, on_path):
    mod = _unique("pw_same")
    archive = on_path(tmp_path / f"{mod}.zip")
    _write_zip(archive, {f"{mod}.py": "VALUE = 1\n"})
    assert importlib.import_module(mod).VALUE == 1
    _pyworker.invalidate_caches()  # opened before any pass saw it: re-read
    assert archive in _pyworker.last_rereads
    del reads[:]
    _pyworker.invalidate_caches()
    assert archive not in reads
    assert archive not in _pyworker.last_rereads


def test_archive_added_then_opened_is_not_reread(tmp_path, reads, on_path):
    """addPyFile's order: the path entry arrives, the task's invalidation
    runs, then an import opens the archive. The next task's invalidation
    has nothing to re-read."""
    mod = _unique("pw_added")
    archive = on_path(tmp_path / f"{mod}.zip")
    _write_zip(archive, {f"{mod}.py": "VALUE = 1\n"})
    _pyworker.invalidate_caches()
    assert importlib.import_module(mod).VALUE == 1
    assert reads.count(archive) == 1  # the new importer's own read
    _pyworker.invalidate_caches()
    assert reads.count(archive) == 1


def test_archive_rewritten_after_it_was_opened_is_reread(tmp_path, reads, on_path):
    mod = _unique("pw_late")
    archive = on_path(tmp_path / f"{mod}.zip")
    _write_zip(archive, {f"{mod}.py": "VALUE = 1\n"})
    _pyworker.invalidate_caches()
    importlib.import_module(mod)
    _write_zip(archive, {f"{mod}.py": "VALUE = 1\n", f"{mod}_new.py": "VALUE = 2\n"})
    _pyworker.invalidate_caches()
    assert archive in _pyworker.last_rereads
    assert importlib.import_module(f"{mod}_new").VALUE == 2


def test_rewritten_archive_is_reread_once_for_all_its_importers(
    tmp_path, reads, on_path
):
    pkg = _unique("pw_pkg")
    archive = on_path(tmp_path / f"{pkg}.zip")
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "VALUE = 'a'\n"})
    assert importlib.import_module(f"{pkg}.a").VALUE == "a"
    _pyworker.invalidate_caches()
    # two importers now share the archive: the path entry and the package
    assert sum(k.startswith(archive) for k in sys.path_importer_cache) == 2
    del reads[:]
    _write_zip(  # same path and inode, new size
        archive,
        {
            f"{pkg}/__init__.py": "",
            f"{pkg}/a.py": "VALUE = 'a'\n",
            f"{pkg}/b.py": "VALUE = 'b'\n",
        },
    )
    _pyworker.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module(f"{pkg}.b").VALUE == "b"


def test_py_file_copied_into_a_path_directory_is_found(tmp_path, on_path):
    mod = _unique("pw_copied")
    on_path(tmp_path)
    assert importlib.util.find_spec(mod) is None  # lists the directory now
    (tmp_path / f"{mod}.py").write_text("VALUE = 3\n")
    _pyworker.invalidate_caches()
    assert importlib.import_module(mod).VALUE == 3


def test_none_and_relative_cache_entries_are_dropped(tmp_path):
    absent = str(tmp_path / "absent")
    sys.path_importer_cache[absent] = None
    sys.path_importer_cache["relative/entry"] = importlib.machinery.FileFinder(
        str(tmp_path)
    )
    epoch = _NamespacePath._epoch
    try:
        _pyworker.invalidate_caches()
        assert absent not in sys.path_importer_cache
        assert "relative/entry" not in sys.path_importer_cache
        assert _NamespacePath._epoch == epoch + 1
    finally:
        sys.path_importer_cache.pop(absent, None)
        sys.path_importer_cache.pop("relative/entry", None)


class _Built:
    """What a patched ``getOrCreate`` returns: the builder's options."""

    def __init__(self, options):
        self.options = dict(options)
        self.sparkContext = types.SimpleNamespace(setLogLevel=lambda level: None)


@pytest.fixture
def built(monkeypatch):
    """Run ``get_spark`` without a JVM; ``active`` fakes a live session."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: _Built(self._options)
    )

    def run(active=None, **kw):
        monkeypatch.setattr(SparkSession, "getActiveSession", lambda: active)
        return get_spark(**kw).options

    return run


def test_get_spark_runs_workers_through_the_daemon(built, monkeypatch, tmp_path):
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    opts = built()
    assert opts["spark.python.daemon.module"] == "event_store_spark._pyworker"
    parent = os.path.dirname(os.path.dirname(_pyworker.__file__))
    assert opts["spark.executorEnv.PYTHONPATH"] == f"{parent}{os.pathsep}{tmp_path}"
    monkeypatch.delenv("PYTHONPATH")
    assert built()["spark.executorEnv.PYTHONPATH"] == parent


def test_get_spark_daemon_wiring_yields(built):
    mine = {
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": "/elsewhere",
        "spark.driver.defaultJavaOptions": "",
    }
    assert {k: built(extra_conf=mine)[k] for k in mine} == mine
    reused = built(active=object())
    assert not set(mine) & set(reused)


def test_get_spark_gives_a_new_local_jvm_one_c2_thread(built):
    """A caller's extraJavaOptions pass through as they are; Spark puts
    them after the default options on the JVM's command line."""
    extra = "-Djava.io.tmpdir=/elsewhere -XX:-UsePerfData"
    opts = built(extra_conf={"spark.driver.extraJavaOptions": extra})
    assert opts["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=2"
    assert opts["spark.driver.extraJavaOptions"] == extra


def test_session_jvm_runs_one_c2_thread(spark):
    """The live JVM took the option at its start: one C1 and one C2
    thread, not HotSpot's own count for the machine."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    option = bean.getVMOption("CICompilerCount")
    assert (option.getValue(), option.getOrigin().name()) == ("2", "VM_CREATION")


def _tasks(spark, udf, schema: str):
    """Run ``udf`` in four tasks per core, so every worker runs several."""
    n = 4 * spark.sparkContext.defaultParallelism
    return spark.range(n, numPartitions=n).mapInPandas(udf, schema).collect()


def test_python_tasks_use_the_package_invalidation(spark):
    def report(batches):
        import pandas as pd
        from pyspark import worker_util

        for _ in batches:
            fn = worker_util.importlib.invalidate_caches
            yield pd.DataFrame({"module": [fn.__module__]})

    rows = _tasks(spark, report, "module string")
    assert {r.module for r in rows} == {"event_store_spark._pyworker"}


def test_workers_reread_no_unchanged_archive(spark):
    def report(batches):
        import os
        import time

        import pandas as pd
        from event_store_spark import _pyworker

        rereads = ",".join(_pyworker.last_rereads)
        for _ in batches:
            yield pd.DataFrame(
                {"pid": [os.getpid()], "t": [time.monotonic_ns()], "rereads": [rereads]}
            )

    rows = _tasks(spark, report, "pid long, t long, rereads string")
    by_pid: dict[int, list[str]] = {}
    for r in sorted(rows, key=lambda r: r.t):
        by_pid.setdefault(r.pid, []).append(r.rereads)
    later = [rereads for tasks in by_pid.values() for rereads in tasks[1:]]
    assert later, "no worker ran two tasks"
    assert set(later) == {""}


def test_add_py_file_mid_session_reaches_every_worker(spark, tmp_path):
    mod = _unique("pw_shipped")
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {f"{mod}.py": f"VALUE = {mod!r}\n"})
    spark.sparkContext.addPyFile(str(archive))

    def load(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"value": [importlib.import_module(mod).VALUE]})

    assert {r.value for r in _tasks(spark, load, "value string")} == {mod}


def test_get_spark_session_ships_no_package_zip(spark, tmp_path, monkeypatch):
    """A get_spark context's workers import the package from the source
    tree (its executors' PYTHONPATH starts there), so a pandas UDF needs
    no shipped zip and `ensure_shipped` leaves none in the temp dir."""
    import tempfile

    import event_store_spark
    from event_store_spark import shipping

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(shipping, "_SHIPPED", set())
    shipping.ensure_shipped(spark)

    def where(batches):
        import pandas as pd

        import event_store_spark

        for _ in batches:
            yield pd.DataFrame({"file": [event_store_spark.__file__]})

    tree = os.path.dirname(os.path.dirname(os.path.abspath(event_store_spark.__file__)))
    files = {r.file for r in _tasks(spark, where, "file string")}
    assert list(tmp_path.glob("event_store_spark_pyfiles_*.zip")) == []
    assert files and all(
        os.path.abspath(f).startswith(tree + os.sep) for f in files
    ), files
