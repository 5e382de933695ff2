from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from event_store_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("event-store-spark-tests", cpus=cpus)
    yield s


@pytest.fixture
def jobs_started(spark):
    """A counter of the Spark jobs this session has started, in any job
    group: the DAGScheduler's total of submitted jobs, read after stopping
    any stray streaming query (its triggers are jobs too). No fallback: the
    fixture first checks that the counter is an int that moves when a job
    runs, so an internal API drift fails the calling test loudly."""

    def count() -> int:
        for query in spark.streams.active:
            query.stop()
        n = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
        assert type(n) is int, f"job counter is {type(n)}, not int"
        return n

    n = count()
    spark.range(1).count()
    assert count() > n, "job counter did not move when a job ran"
    return count


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture
def crash_gc_after_next_fold(monkeypatch):
    """Returns ``arm()``: once called, the first ``shutil.rmtree`` after
    the next segment-log ``_SNAP`` flip raises — a crash between a fold's
    commit point and its GC."""
    import shutil

    from event_store_spark.plans import generations

    real_write, real_rmtree = generations.write_pointer, shutil.rmtree
    state = {"armed": False, "flipped": False, "crashed": False}

    def write_pointer(path, text):
        real_write(path, text)
        if state["armed"] and os.path.basename(path) == "_SNAP":
            state["flipped"] = True

    def rmtree(path, *args, **kwargs):
        if state["flipped"] and not state["crashed"]:
            state["crashed"] = True
            raise OSError(f"injected crash before removing {path}")
        real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(generations, "write_pointer", write_pointer)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    return lambda: state.update(armed=True)
