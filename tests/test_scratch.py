"""Scratch-persist lifecycle contracts — thread-keyed release, the
size gate, the entry-hook release discipline — and the failure
contract of run_concurrently, whose worker threads re-home scratch."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.plans import queries as Q
from tests.conftest import SF_CORRECTNESS_DIR


def test_release_scratch_only_touches_own_thread(spark):
    """A harness running catalog queries on concurrent threads must
    not have one thread's query-entry release evict another thread's
    in-flight scratch. Build a scratch frame on a worker thread, then
    run a full wrapped catalog query on the main thread (whose entry
    hook calls release_scratch): the worker's frame must still be
    cached afterwards."""
    worker_frame = {}

    def build():
        worker_frame["df"] = Q.scratch_persist(
            spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("y"))
        )

    t = threading.Thread(target=build)
    t.start()
    t.join()
    df = worker_frame["df"]
    assert df.storageLevel.useMemory
    # main-thread wrapped query -> entry hook releases MAIN scratch only
    Q.QUERIES["pricing_summary"](spark, SF_CORRECTNESS_DIR).collect()
    assert df.storageLevel.useMemory, (
        "cross-thread release evicted an in-flight query's scratch"
    )
    df.unpersist()


def test_release_scratch_frees_same_thread_scratch(spark):
    """Per-thread sequential contract: the next wrapped query on the
    SAME thread releases the previous query's scratch (the bounded-
    session property bench.py and the driver rely on)."""
    df = Q.scratch_persist(spark.range(10).toDF("x"))
    assert df.storageLevel.useMemory
    Q.QUERIES["pricing_summary"](spark, SF_CORRECTNESS_DIR).collect()
    assert not df.storageLevel.useMemory


def test_scratch_persist_if_large_skips_small_frames(spark):
    """The size-gated persist must leave a small-estimate frame
    unpersisted (at bench SF the materialization pins an AQE-frozen
    cached plan that costs more than the rescan it saves — the round-7
    events_max_concurrent_sessions regression) and persist once the
    estimate clears the threshold."""
    small = spark.range(100).select(F.col("id"), (F.col("id") + 1).alias("y"))
    out = Q.scratch_persist_if_large(small)
    assert not out.storageLevel.useMemory
    forced = Q.scratch_persist_if_large(small, min_bytes=1)
    assert forced.storageLevel.useMemory
    Q.release_scratch()
    assert not forced.storageLevel.useMemory


def test_run_concurrently_raises_earliest_failure_with_notes():
    """Every thunk runs; the earliest-argument failure propagates and
    each other failure rides along as a note, so none is dropped."""
    import pytest

    ran = []

    def fail(exc):
        def thunk():
            raise exc

        return thunk

    first, second = ValueError("first"), KeyError("second")
    with pytest.raises(ValueError) as info:
        Q.run_concurrently(fail(first), lambda: ran.append("ok"), fail(second))
    assert info.value is first
    assert any(
        "thunk #2" in n and "KeyError" in n for n in getattr(info.value, "__notes__", [])
    )
    assert ran == ["ok"]
