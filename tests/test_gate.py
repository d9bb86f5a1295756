"""The driver-collapse gate: the bounded collect, the single-task size
check, and the one switch that forces every gate distributed."""

from __future__ import annotations

import pytest

from covid_weather_etl_spark.functions.gate import (
    collect_upto, distributed_only, fits)


def test_collect_upto_bounds_and_switch(spark):
    df = spark.range(5)
    assert [r.id for r in collect_upto(df, 5)] == [0, 1, 2, 3, 4]
    assert collect_upto(df, 4) is None
    assert collect_upto(spark.range(0), 3) == []
    assert fits(5, 5) and not fits(6, 5)

    with distributed_only():
        assert collect_upto(df, 5) is None
        assert not fits(0, 5)
    assert collect_upto(df, 5) is not None and fits(5, 5)

    with pytest.raises(RuntimeError):
        with distributed_only():
            raise RuntimeError("boom")
    assert collect_upto(df, 5) is not None and fits(5, 5)

    with distributed_only():
        with distributed_only():
            pass
        assert not fits(0, 5)
    assert fits(0, 5)
