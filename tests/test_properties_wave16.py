"""Property-based checks for the wave 12-16 operators (hypothesis,
continuing the SURVEY §5 strategy in tests/test_properties.py).

Small per-example data, few examples (sessions are expensive), but the
properties cover the semantic axes an example-based test can miss:
arbitrary text for block dedup idempotence, arbitrary timestamp sets for
as-of ordering, arbitrary value sets for histogram conservation and
extents agreement with the exact aggregate.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_spark = None


@pytest.fixture(autouse=True)
def _grab_spark(spark):
    global _spark
    _spark = spark


words = st.text(alphabet="ab c", min_size=0, max_size=60)

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _block_dedup_counts(texts):
    import os
    import tempfile

    import map_v2_etl_spark.plans.queries_wave12 as w12

    d = tempfile.mkdtemp()
    rows = [
        (i, t, "en", "s", len(t)) for i, t in enumerate(texts)
    ]
    _spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return {r["doc_id"]: r for r in w12.q_block_dedup(_spark, d).collect()}


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(words, min_size=1, max_size=4))
def test_block_dedup_idempotent_and_bounded(texts):
    """Deduping already-deduped text is a no-op, and kept counts are
    bounded by block counts."""
    first = _block_dedup_counts(texts)
    for r in first.values():
        assert 0 <= r["n_kept"] <= r["n_blocks"]
    second = _block_dedup_counts(
        [first[i]["text_dedup"] for i in sorted(first)]
    )
    for i, r in second.items():
        assert r["n_kept"] == r["n_blocks"] == first[i]["n_kept"]
        assert r["text_dedup"] == first[i]["text_dedup"]


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=25
    ),
    st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_backward_forward_bracket_the_left_ts(left_ts, right_ts):
    """Backward match is the max right ts <= t; forward the min >= t —
    verified against a python reference on arbitrary integer times."""
    from map_v2_etl_spark.operators.joins import asof_join

    left = _spark.createDataFrame(
        [(1, int(t)) for t in left_ts], "k int, ts long"
    )
    right = _spark.createDataFrame(
        [(1, int(t), float(t)) for t in right_ts], "k int, ts long, v double"
    )
    bwd = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts", right_cols=["v"]
    ).collect()
    fwd = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["v"], direction="forward",
    ).collect()
    rset = sorted(set(right_ts))
    bwd_got = sorted((r["ts"], r["ts_right"]) for r in bwd)
    fwd_got = sorted((r["ts"], r["ts_right"]) for r in fwd)
    bwd_exp = sorted(
        (t, max((r for r in rset if r <= t), default=None))
        for t in left_ts
    )
    fwd_exp = sorted(
        (t, min((r for r in rset if r >= t), default=None))
        for t in left_ts
    )
    assert bwd_got == bwd_exp
    assert fwd_got == fwd_exp


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(finite_doubles, min_size=2, max_size=50))
def test_extents_agree_with_exact_on_arbitrary_doubles(values):
    import numpy as np

    from map_v2_etl_spark.operators.extents import (
        _exact_melt_quantiles,
        column_extents,
    )

    df = _spark.createDataFrame([(float(v),) for v in values], ["m"])
    got = tuple(column_extents(df, exclude=()).collect()[0])
    arr = np.array(values, dtype="float64")
    q1, q99 = _exact_melt_quantiles(df, ["m"], 0.01, 0.99)["m"]
    assert got == ("m", arr.min(), arr.max(), q1, q99)
