"""Ship the package to executors (addPyFile) so UDF closures resolve.

Pandas-UDF / mapInPandas closures reference classes from this package;
Spark workers unpickle them by module path, which requires
``event_store_spark`` to be importable on every executor. On a real cluster
that's `--py-files`; here we build the zip once per session and register it
with ``sc.addPyFile`` — the exact same mechanism, self-serve.

Called automatically by every code path that creates a Python UDF, so the
engine works no matter where the driving process imports it from. A
context whose executors' ``PYTHONPATH`` already starts with the package's
parent directory (every `session.get_spark` context) ships nothing.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_shipped(spark: SparkSession | None = None) -> None:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # workers of a `session.get_spark` context import the package from
    # this tree already (`session.python_worker_conf`): no zip needed
    pythonpath = sc.getConf().get("spark.executorEnv.PYTHONPATH", "")
    if pythonpath.split(os.pathsep)[0] == os.path.dirname(pkg_dir):
        _SHIPPED.add(app_id)
        return
    # ALWAYS rebuild into a private temp file, then atomically publish under
    # a content-hash name: a predictable pid-keyed path was reused blindly,
    # so a stale zip (pid recycling) or a pre-planted file at the guessable
    # path would ship wrong code to executors. The rebuild costs
    # milliseconds once per session; the hash name keeps addPyFile
    # idempotent across processes running the same source tree.
    import hashlib

    digest = hashlib.sha256()
    entries = []
    for dirpath, _, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "event_store_spark", os.path.relpath(full, pkg_dir)
                )
                entries.append((rel, full))
    entries.sort()
    for rel, full in entries:
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"event_store_spark_pyfiles_{digest.hexdigest()[:16]}.zip",
    )
    fd, tmp = tempfile.mkstemp(suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as zf:
        for rel, full in entries:
            zf.write(full, rel)
    os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED.add(app_id)
