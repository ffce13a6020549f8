"""Extents operator: R-7 quantile golden tests (SURVEY.md §2.4 A2-A5, §5.1)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import map_v2_etl_spark.operators.extents as X
from map_v2_etl_spark.operators.extents import column_extents


def exact_extents(df, exclude=("GEOID", "n", "pl")):
    """Reference rows from Spark's exact aggregates under the same cell
    rule: min/max over the normalized doubles, quantiles from the exact
    percentile fallback."""
    cols = [c for c in df.columns if c not in exclude]
    mm = X._doubles(df, cols).agg(
        *[f(c) for c in cols for f in (F.min, F.max)]
    ).first()
    qs = X._exact_melt_quantiles(df, cols, 0.01, 0.99)
    return [
        (c, mm[2 * i], mm[2 * i + 1], *qs.get(c, (None, None)))
        for i, c in enumerate(cols)
    ]


def spy_fallback(monkeypatch):
    """Record the column lists column_extents sends to the exact
    fallback."""
    calls: list = []
    orig = X._exact_melt_quantiles

    def spy(*a, **k):
        calls.append(list(a[1]))
        return orig(*a, **k)

    monkeypatch.setattr(X, "_exact_melt_quantiles", spy)
    return calls


def test_extents_r7_quantiles(spark):
    # values 1..10: R-7 q(0.01) = 1.09, q(0.99) = 9.91 (hand-computed:
    # h=(n-1)p, x[floor h] + frac*(x[floor h +1]-x[floor h]))
    rows = [("g%02d" % i, "nm", "pl", float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["GEOID", "n", "pl", "m-00"])
    out = {r["id"]: r for r in column_extents(df).collect()}
    r = out["m-00"]
    assert r["min"] == 1.0 and r["max"] == 10.0
    assert r["q1"] == pytest.approx(1.09, abs=1e-12)
    assert r["q99"] == pytest.approx(9.91, abs=1e-12)
    # cross-check against numpy's default (R-7 linear) interpolation
    vals = np.arange(1.0, 11.0)
    assert r["q1"] == pytest.approx(np.percentile(vals, 1), abs=1e-12)
    assert r["q99"] == pytest.approx(np.percentile(vals, 99), abs=1e-12)


def test_extents_ignores_nulls_and_junk(spark):
    # blanks and non-numeric strings are dropped per cell, not per row
    # (extract-extents.js:24-27); engine: cast -> null -> aggs ignore
    rows = [
        ("01", "a", "x", "1", "5"),
        ("02", "b", "x", "", "junk"),
        ("03", "c", "x", "3", "7"),
    ]
    df = spark.createDataFrame(rows, ["GEOID", "n", "pl", "m-00", "k-00"])
    out = {r["id"]: r for r in column_extents(df).collect()}
    assert out["m-00"]["min"] == 1.0 and out["m-00"]["max"] == 3.0
    assert out["k-00"]["min"] == 5.0 and out["k-00"]["max"] == 7.0


def test_extents_row_order_follows_column_order(spark):
    rows = [("01", "a", "x", 1.0, 2.0, 3.0)]
    df = spark.createDataFrame(rows, ["GEOID", "n", "pl", "z-00", "a-00", "m-00"])
    ids = [r["id"] for r in column_extents(df).collect()]
    assert ids == ["z-00", "a-00", "m-00"]


def test_extents_bounds_property(spark):
    rng = np.random.RandomState(7)
    vals = rng.lognormal(0, 2, size=200)
    df = spark.createDataFrame(
        [("g%03d" % i, "n", "p", float(v)) for i, v in enumerate(vals)],
        ["GEOID", "n", "pl", "m-00"],
    )
    r = column_extents(df).collect()[0]
    assert r["min"] <= r["q1"] <= r["q99"] <= r["max"]
    assert r["q1"] == pytest.approx(np.percentile(vals, 1), rel=1e-9)
    assert r["q99"] == pytest.approx(np.percentile(vals, 99), rel=1e-9)


def test_extents_four_paths_fuzz_bit_identical(spark):
    """Randomized bit-equality net: column_extents against the exact
    aggregate on adversarial columns — heavy ties, constants,
    non-numeric and 'NaN' strings, nulls, at a tiny and a moderate row
    count. Same discipline as the r12 regime-switch fuzz sweep."""
    import random

    rng = random.Random(9)

    def gen_cell(kind):
        r = rng.random()
        if r < 0.08:
            return None
        if r < 0.12:
            return "not-a-number"
        if r < 0.16:
            return "NaN"
        if kind == "ties":
            return str(rng.choice([1.0, 2.0, 2.0, 3.5, 100.0]))
        if kind == "const":
            return "7.25"
        if kind == "int":
            return str(rng.randint(-50, 50))
        return repr(round(rng.uniform(-1e6, 1e6), 4))

    for trial in range(3):
        ncols = rng.randint(2, 5)
        nrows = rng.choice([8, 150])
        kinds = [
            rng.choice(["ties", "const", "int", "cont"])
            for _ in range(ncols)
        ]
        cols = [f"m{i}" for i in range(ncols)]
        rows = [
            tuple([f"g{j}"] + [gen_cell(kinds[i]) for i in range(ncols)])
            for j in range(nrows)
        ]
        df = spark.createDataFrame(rows, ["GEOID"] + cols)
        base = exact_extents(df)
        got = [tuple(r) for r in column_extents(df).collect()]
        assert got == base, (
            f"trial {trial} kinds={kinds} rows={nrows}:\n"
            f" base={base}\n got={got}"
        )


def test_extents_match_exact_aggregate_bit_for_bit(spark):
    """column_extents reproduces the exact aggregate bit for bit,
    including NaN-drop, all-null columns, constant columns (zero-width
    brackets), and fractional-rank interpolation."""
    import math

    rows = []
    for i in range(997):
        rows.append(
            (
                str(i),
                float(i) * 1.7 - 100.0,          # spread values
                5.0,                              # constant column
                float("nan") if i % 7 == 0 else math.sin(i) * 1e6,
                None,                             # all-null column
                float(i % 13),                    # heavy ties
            )
        )
    df = spark.createDataFrame(
        rows, "GEOID string, a double, b double, c double, d double, e double"
    )
    got = [tuple(r) for r in column_extents(df).collect()]
    assert got == exact_extents(df)


def test_extents_heavy_tie_counts_only_no_fallback(spark, monkeypatch):
    """A column whose q1 sits inside a large tie mass produces a
    zero-width envelope; pass B ships tie COUNTS (no value gather) and
    must solve it WITHOUT the exact fallback — and still bit-match the
    exact aggregate."""
    import random

    rng = random.Random(3)
    # ~30% zeros scattered everywhere -> every batch's candidates around
    # p=0.01 are 0.0 -> zero-width envelope
    rows = [
        (0.0 if rng.random() < 0.3 else rng.uniform(1.0, 100.0),)
        for _ in range(20000)
    ]
    df = spark.createDataFrame(rows, "m DOUBLE").repartition(8)

    calls = spy_fallback(monkeypatch)
    got = [tuple(r) for r in column_extents(df, exclude=()).collect()]
    assert calls == []  # counts-only path solved it, zero fallback
    monkeypatch.undo()
    assert got == exact_extents(df, exclude=())
    assert got[0][3] == 0.0


def test_extents_value_clustered_overflow_falls_back_exact(spark, monkeypatch):
    """Value-clustered (range-partitioned) input makes the candidate
    envelope span nearly the whole column; the per-batch gather cap
    must flag overflow and route the column to the exact aggregate —
    results still bit-match instead of OOMing the driver."""
    import random

    rng = random.Random(5)
    rows = [(rng.uniform(0.0, 1000.0),) for _ in range(40000)]
    df = (
        spark.createDataFrame(rows, "m DOUBLE")
        .repartitionByRange(8, F.col("m"))  # batches = value ranges
    )

    calls = spy_fallback(monkeypatch)
    got = [tuple(r) for r in column_extents(df, exclude=()).collect()]
    assert calls == [["m"]]  # overflow detected -> exact fallback ran
    monkeypatch.undo()
    assert got == exact_extents(df, exclude=())


def test_extents_small_batches_never_fall_back(spark, monkeypatch):
    """Batches of ~60 rows (a county-sized table over 4 partitions):
    the envelope of per-batch candidates rounded down at p-delta and up
    at p+delta contains both order statistics for any batching, so no
    column reaches the exact fallback. Linearly interpolated candidates
    would miss an order statistic on 5 of these 40 columns."""
    rng = np.random.RandomState(1)
    ncols, nrows = 40, 240
    data = rng.lognormal(0.0, 1.0, size=(nrows, ncols)).round(2)
    data[rng.rand(nrows, ncols) < 0.05] = np.nan
    cols = [f"p-{i:02d}" for i in range(ncols)]
    rows = [
        (f"g{j:03d}",) + tuple(
            None if np.isnan(x) else float(x) for x in data[j]
        )
        for j in range(nrows)
    ]
    df = spark.createDataFrame(
        rows,
        "GEOID string, " + ", ".join(f"`{c}` double" for c in cols),
    ).repartition(4)

    calls = spy_fallback(monkeypatch)
    got = [tuple(r) for r in column_extents(df).collect()]
    assert calls == []
    monkeypatch.undo()
    assert got == exact_extents(df)


def test_extents_no_metric_columns_is_empty(spark):
    df = spark.createDataFrame([("01", "a", "x")], ["GEOID", "n", "pl"])
    out = column_extents(df)
    assert out.columns == ["id", "min", "max", "q1", "q99"]
    assert out.collect() == []


@pytest.mark.parametrize("dtype", ["double", "string"])
def test_extents_zero_rows_one_null_row_per_column(spark, dtype):
    df = spark.createDataFrame(
        [], f"GEOID string, `a-00` {dtype}, `b-00` {dtype}"
    )
    got = [tuple(r) for r in column_extents(df).collect()]
    assert got == [
        ("a-00", None, None, None, None),
        ("b-00", None, None, None, None),
    ]


def test_byte_gate_remote_scheme_sizes_via_hadoop(spark, tmp_path, monkeypatch):
    """_input_file_bytes (the salt sizing of ann_index_write) must work
    off the local filesystem. Non-``file:`` URIs are statted through the
    Hadoop FileSystem API — exercised here through a ``viewfs://`` mount
    over the local test directory (a real non-file scheme Hadoop
    resolves without a cluster) — and a scheme Hadoop cannot resolve
    makes the size UNKNOWN (-1), never small."""
    import os

    from map_v2_etl_spark.sources.registry import _input_file_bytes

    num = spark.createDataFrame(
        [(float(i), float(i % 7)) for i in range(500)], "a double, b double"
    )
    p_num = str(tmp_path / "num_remote.parquet")
    num.write.parquet(p_num)
    num_df = spark.read.parquet(p_num)
    real_files = num_df.inputFiles()

    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.extcell.link./data", f"file://{p_num}"
    )
    mock_files = [
        "viewfs://extcell/data/" + f.rsplit("/", 1)[1] for f in real_files
    ]
    monkeypatch.setattr(
        type(num_df), "inputFiles", lambda self: mock_files
    )

    # Hadoop-resolvable remote scheme: sizes add up to the real bytes
    expect = sum(
        os.path.getsize(f.removeprefix("file:")) for f in real_files
    )
    assert _input_file_bytes(num_df) == expect

    # unresolvable scheme: UNKNOWN
    bad_files = [f.replace("file:", "nosuchfs://x") for f in real_files]
    monkeypatch.setattr(
        type(num_df), "inputFiles", lambda self: bad_files
    )
    assert _input_file_bytes(num_df) == -1
