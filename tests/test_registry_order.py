"""Registry invariants: every registered query is callable, every
oracle names a registered query, and the canonicalizer lint rejects
column types the order-insensitive result hash cannot compare."""

from __future__ import annotations

from datafusion_tpc_spark import registry

registry.load_all()


def test_every_query_has_callable_and_oracle_subset():
    for name, fn in registry.QUERIES.items():
        assert callable(fn), name
    assert set(registry.ORACLE) <= set(registry.QUERIES)


def test_canonicalizer_lint_rejects_hazardous_schemas():
    """The driver-canonicalizer contract lint (VERDICT r10 item 5,
    tests/conftest.py) must reject every known-hazardous top-level
    type (bare array -> pandas sort_values dies; DECIMAL -> object-
    dtype hash mismatch, the r5 adjudication; map/struct/binary
    untested by any driver row) and accept the full proven-atomic
    set the 247 driver-green queries actually emit."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from tests.conftest import assert_driver_canonicalizable

    ok = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tsn", T.TimestampNTZType()),
        ]
    )
    assert_driver_canonicalizable(ok, "ok")
    for bad in (
        T.ArrayType(T.LongType()),
        T.MapType(T.StringType(), T.LongType()),
        T.StructType([T.StructField("x", T.LongType())]),
        T.DecimalType(28, 4),
        T.BinaryType(),
        T.DayTimeIntervalType(),
    ):
        with _pytest.raises(AssertionError):
            assert_driver_canonicalizable(
                T.StructType([T.StructField("c", bad)]), "bad"
            )
