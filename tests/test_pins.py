"""Lifetimes of ``catalog.Pins`` and ``catalog.generation``."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from chicago_business_owners_data_engineering_spark.catalog import Pins, generation

NONE = StorageLevel.NONE


def _frames(spark, n: int, first: int = 0):
    """``n`` DataFrames with distinct plans (the cache is keyed by plan)."""
    return [spark.range(10).selectExpr(f"id + {i} AS v") for i in range(first, first + n)]


def test_generation_releases_the_previous_one(spark):
    pin = generation("test_pins.x")
    first = [pin(df) for df in _frames(spark, 2)]
    assert all(df.storageLevel != NONE for df in first)
    pin = generation("test_pins.x")
    second = [pin(df) for df in _frames(spark, 2, first=2)]
    assert all(df.storageLevel == NONE for df in first)
    assert all(df.storageLevel != NONE for df in second)
    generation("test_pins.x")
    assert all(df.storageLevel == NONE for df in second)


def test_owners_do_not_release_each_other(spark):
    a, b = _frames(spark, 2, first=10)
    a = generation("test_pins.a")(a)
    b = generation("test_pins.b")(b)
    generation("test_pins.a")
    assert a.storageLevel == NONE
    assert b.storageLevel != NONE
    generation("test_pins.b")
    assert b.storageLevel == NONE


def test_with_block_releases_on_exit(spark):
    with Pins() as pin:
        dfs = [pin(df) for df in _frames(spark, 2, first=20)]
        assert all(df.storageLevel != NONE for df in dfs)
        assert dfs[0].count() == 10
    assert all(df.storageLevel == NONE for df in dfs)


def test_with_block_releases_when_the_body_raises(spark):
    with pytest.raises(ZeroDivisionError):
        with Pins() as pin:
            df = pin(_frames(spark, 1, first=5)[0])
            assert df.storageLevel != NONE
            1 / 0
    assert df.storageLevel == NONE
