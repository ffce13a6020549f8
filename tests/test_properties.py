"""Property-based checks (SURVEY §5 item 4, hypothesis).

Spark sessions are expensive per example, so examples are capped and the
data per example is small; the properties still cover the interesting
axes: R-7 percentile parity with numpy, pivot/melt roundtrip, and the
extents ordering invariant.
"""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from map_v2_etl_spark.operators.extents import column_extents
from map_v2_etl_spark.operators.pivot import pivot_long_to_wide

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)

_spark = None


@pytest.fixture(autouse=True)
def _grab_spark(spark):
    # hypothesis @given can't take pytest fixtures directly
    global _spark
    _spark = spark


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(finite_doubles, min_size=1, max_size=60))
def test_extents_match_numpy_r7(values):
    """min/max/q1/q99 equal numpy's (R-7 'linear' interpolation is numpy's
    default — the same scheme d3.quantile uses), and are ordered."""
    df = _spark.createDataFrame([(v,) for v in values], ["m"])
    row = column_extents(df, exclude=()).collect()[0]
    arr = np.array(values)
    assert row["min"] == arr.min()
    assert row["max"] == arr.max()
    assert math.isclose(
        row["q1"], float(np.percentile(arr, 1)), rel_tol=1e-9, abs_tol=1e-9
    )
    assert math.isclose(
        row["q99"], float(np.percentile(arr, 99)), rel_tol=1e-9, abs_tol=1e-9
    )
    assert row["min"] <= row["q1"] <= row["q99"] <= row["max"]


def test_extents_drop_nan_like_d3():
    """Spark sorts NaN greatest; d3 drops it — extents must drop."""
    df = _spark.createDataFrame(
        [(1.0,), (float("nan"),), (3.0,), (None,)], ["m"]
    )
    row = column_extents(df, exclude=()).collect()[0]
    assert row["min"] == 1.0
    assert row["max"] == 3.0          # NaN would win without the guard
    assert math.isclose(row["q99"], 2.98)  # R-7 over [1, 3] at 0.99
    assert not math.isnan(row["q1"])


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.dictionaries(
        keys=st.tuples(
            st.sampled_from(["01", "02", "03"]),       # place id
            st.sampled_from(["2000", "2001", "2002"]),  # year
        ),
        values=finite_doubles,
        min_size=1,
        max_size=9,
    )
)
def test_pivot_melt_roundtrip(cells):
    """pivot(long) melted back equals the input cell map (no dups case)."""
    rows = [
        (pid, yr, f"name{pid}", "PL", v) for (pid, yr), v in cells.items()
    ]
    long_df = _spark.createDataFrame(
        rows, ["id", "year", "name", "parent_location", "population"]
    )
    # null-fill the remaining declared metric columns, as read_long_csv does
    from map_v2_etl_spark.schemas import long_schema

    for f in long_schema("raw").fields:
        if f.name not in long_df.columns:
            long_df = long_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    wide = pivot_long_to_wide(
        long_df, "raw", years=["2000", "2001", "2002"]
    )
    got = {}
    for r in wide.collect():
        for yr in ["2000", "2001", "2002"]:
            v = r[f"p-{yr[-2:]}"]
            if v is not None:
                got[(r["GEOID"], yr)] = v
    assert got == cells
    # identity columns survive the pivot
    for r in wide.collect():
        assert r["n"] == f"name{r['GEOID']}"
        assert r["pl"] == "PL"
