"""Round-12 optimization internals: the concurrency helper and the minhash
expression caches."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from kaspi_etl_spark.concurrency import build_concurrently
from kaspi_etl_spark.llm import dedup


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


def test_minhash_signature_cache_hits_and_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v"), (4, None)],
        "doc_id long, text string",
    )
    first = dedup.minhash_signature(docs, num_hashes=4).collect()
    key = (4, 3)
    assert key in dedup._SIG_EXPRS  # populated by the first call
    cached_obj = dedup._SIG_EXPRS[key]
    second = dedup.minhash_signature(docs, num_hashes=4).collect()
    assert dedup._SIG_EXPRS[key] is cached_obj  # reused, not rebuilt
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    rows = {r["doc_id"]: r for r in first}
    # identical docs share every signature component; NULL text -> NULL sig
    assert tuple(rows[1])[1:] == tuple(rows[2])[1:]
    assert all(v is None for v in tuple(rows[4])[1:])


def test_minhash_pairs_band_cache_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)]
        + [(9, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    p1 = dedup.minhash_near_dup_pairs(docs, num_hashes=8, bands=2)
    got1 = sorted((r["id_a"], r["id_b"]) for r in p1.collect())
    assert (8, 2) in dedup._BAND_EXPRS
    p2 = dedup.minhash_near_dup_pairs(docs, num_hashes=8, bands=2)
    got2 = sorted((r["id_a"], r["id_b"]) for r in p2.collect())
    assert got1 == got2
    # the four identical docs must all pair up; the outlier must not
    assert set(got1) == {(a, b) for a in range(4) for b in range(4) if a < b}
