"""litcache.array_lit — cached array literals must be value-identical to
F.lit(list).cast(...) (which they replace: F.lit converts element-by-
element over py4j, ~2.4 s per 1024-element table, paid per query build).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kaspi_etl_spark.litcache import _CACHE, array_lit
from kaspi_etl_spark.layout import HILBERT_D_LUT, HILBERT_T_LUT
from kaspi_etl_spark.llm.classifier import SIGMOID_LUT
from kaspi_etl_spark.llm.lm import FEXP2_LUT, FLOG2_LUT


def _eq(spark, values, tp):
    row = (
        spark.range(1)
        .select(
            (array_lit(values, tp) == F.lit(list(values)).cast(f"array<{tp}>")).alias(
                "eq"
            )
        )
        .collect()[0]
    )
    assert row["eq"] is True, f"array_lit mismatch for {tp}"


def test_array_lit_matches_f_lit_for_every_engine_table(spark):
    _eq(spark, FLOG2_LUT, "bigint")
    _eq(spark, FEXP2_LUT, "bigint")
    _eq(spark, SIGMOID_LUT, "bigint")
    _eq(spark, HILBERT_T_LUT, "int")
    _eq(spark, HILBERT_D_LUT, "bigint")


def test_array_lit_doubles_roundtrip(spark):
    vals = [0.1, -1.5e-7, 3.141592653589793, 2.0**-52, 1e300]
    _eq(spark, vals, "double")


def test_array_lit_caches_column_object(spark):
    _CACHE.clear()
    a = array_lit(FLOG2_LUT, "bigint")
    b = array_lit(FLOG2_LUT, "bigint")
    assert a is b
    assert array_lit(FLOG2_LUT, "int") is not a  # type is part of the key


def test_cache_stays_bounded_and_keeps_constant_tables(spark):
    from kaspi_etl_spark.litcache import MAX_ENTRIES

    _CACHE.clear()
    lut = array_lit(SIGMOID_LUT, "bigint")
    for i in range(3 * MAX_ENTRIES):  # per-call arrays never enter
        array_lit([i, i + 1], "bigint", cache=False)
    assert list(_CACHE) == [("bigint", tuple(SIGMOID_LUT))]
    for i in range(3 * MAX_ENTRIES):  # misuse: the LRU bound still holds
        array_lit([i, i + 1], "bigint")
        assert array_lit(SIGMOID_LUT, "bigint") is lut  # a table in use stays
    assert len(_CACHE) == MAX_ENTRIES


def test_training_leaves_only_constant_tables_cached(spark):
    from kaspi_etl_spark.llm import classifier as C

    _CACHE.clear()
    docs = spark.createDataFrame(
        [(i, "alpha beta " * (1 + i % 7), i % 2) for i in range(20)],
        "doc_id long, text string, y_true long",
    )
    w = C.train(docs, F.col("y_true") == 1, iters=3)  # one weight vector per step
    C.predict(docs, w).collect()
    assert list(_CACHE) == [("bigint", tuple(SIGMOID_LUT))]


def test_cache_bound_holds_under_concurrent_builders(spark):
    import sys
    import threading

    from kaspi_etl_spark.litcache import MAX_ENTRIES

    _CACHE.clear()
    lut = array_lit(SIGMOID_LUT, "bigint")
    errors = []

    def build(t):
        try:
            for i in range(40):
                array_lit([t, i], "bigint")
                assert array_lit(SIGMOID_LUT, "bigint") is lut
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=build, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(_CACHE) == MAX_ENTRIES
