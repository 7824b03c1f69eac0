"""concurrency.build_concurrently: independent eager build chains on
driver threads."""

from __future__ import annotations

import threading

import pytest

from kaspi_etl_spark.concurrency import build_concurrently


def test_build_concurrently_order_and_results(spark):
    a = lambda: spark.range(5).count()
    b = lambda: spark.range(7).localCheckpoint().count()
    c = lambda: "plain"
    assert build_concurrently(a, b, c) == [5, 7, "plain"]
    # single-thunk path (no pool)
    assert build_concurrently(a) == [5]


def test_build_concurrently_propagates_exceptions(spark):
    def boom():
        raise ValueError("expected")

    with pytest.raises(ValueError, match="expected"):
        build_concurrently(lambda: 1, boom)


def test_build_concurrently_fails_fast():
    release, finished = threading.Event(), threading.Event()

    def slow():
        release.wait(60)
        finished.set()

    def boom():
        raise ValueError("fast")

    with pytest.raises(ValueError, match="fast"):
        build_concurrently(slow, boom)
    assert not finished.is_set()  # raised while the slow thunk still ran
    release.set()
