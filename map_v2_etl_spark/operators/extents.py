"""Per-column extents: min / max / 1st / 99th percentile (SURVEY.md §2.4 A2-A5).

Reproduces /root/reference/scripts/extract-extents.js: for every wide
metric column, emit one row ``id,min,max,q1,q99`` where q1/q99 are the
d3.quantile values — R-7 linear interpolation over the sorted non-null
numerics (extract-extents.js:44-50). Spark's exact ``percentile`` is the
same R-7 rule, selecting the same order statistics; its interpolation
form ``lower*(k+1-h) + higher*(h-k)`` can differ from d3's
``a + (b-a)*(h-k)`` in the LAST ULP when it interpolates between
unequal neighbors (see _interp), so the bit-for-bit contract this repo
tests is against Catalyst's Percentile — column_extents, its exact
fallback and the DuckDB oracle reproduce THAT arithmetic exactly. The
approximate ``percentile_approx`` matches neither and is deliberately
not used.

One path: a single Spark projection normalizes every metric cell
(``try_cast`` to double, NaN -> null — blanks, junk and NaN drop per
cell, matching extract-extents.js:24-27), then an Arrow two-pass
order-statistic selection runs on those doubles. Neither pass melts the
table or shuffles cell values: summaries stream back to the driver
sized |cols| x |batches|. Columns the selection cannot settle within its
memory cap take the exact percentile aggregate over the melted column
(_exact_melt_quantiles). Output row order follows input column order
(extract-extents.js:41).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA = "id string, min double, max double, q1 double, q99 double"


def _interp(lower: float, higher: float, n: int, p: float) -> float:
    """EXACTLY org.apache.spark.sql.catalyst.expressions.Percentile:
    integral positions return the order statistic; fractional ones use
    the symmetric weighted form lower*(k+1-h) + higher*(h-k) — NOT
    d3's a+(b-a)*f, whose rounding can differ in the last ulp. This is
    the ONE copy of the bit-exactness-critical arithmetic; the
    selection must call it (a second copy that drifts would silently
    break the hash-match with the exact fallback and the oracle)."""
    h = (n - 1) * p
    k = math.floor(h)
    if k == math.ceil(h) or lower == higher:
        # Spark also short-circuits equal keys before interpolating
        return lower
    return lower * (k + 1 - h) + higher * (h - k)


def _nan_safe(v):
    """d3.min/max/quantile DROP NaN (extract-extents.js:24-27); Spark
    sorts NaN greatest, so max/q99 would return NaN. NaN -> null:
    every agg ignores nulls, reproducing the drop exactly."""
    return F.when(~F.isnan(v), v)


def _doubles(wide_df: DataFrame, cols: list[str]) -> DataFrame:
    """The one cell rule: try_cast to double (blanks/junk -> null,
    ANSI-safe), then NaN -> null."""
    return wide_df.select(
        [_nan_safe(F.col(c).try_cast("double")).alias(c) for c in cols]
    )


def _exact_melt_quantiles(
    wide_df: DataFrame,
    cols: list[str],
    q_low: float,
    q_high: float,
) -> dict[str, tuple]:
    """The exact fallback: melt ``cols`` under the standard cell rule
    and run one fused exact percentile per column — each reducer
    gathers ONE column's values. Returns {col: (q1, q99)}, (None, None)
    for an all-null column; a zero-row input returns {}."""
    ps = F.array(F.lit(q_low), F.lit(q_high))
    melted = _doubles(wide_df, cols).unpivot([], cols, "id", "value")
    return {
        r["id"]: tuple(r["q"] or (None, None))
        for r in melted.groupBy("id")
        .agg(F.percentile("value", ps).alias("q"))
        .collect()
    }


def column_extents(
    wide_df: DataFrame,
    exclude: tuple[str, ...] = ("GEOID", "n", "pl"),
    q_low: float = 0.01,
    q_high: float = 0.99,
) -> DataFrame:
    """One row per metric column: id, min, max, q1, q99 (input column
    order). An input with no metric columns gives an empty frame; a
    zero-row input gives one all-null row per column.

    Exact R-7 quantiles only need TWO order statistics per side (ranks
    floor(h) and ceil(h), h = (n-1)p), so:

      pass A (mapInPandas): per Arrow batch, NumPy computes per-column
              count / min / max and candidate brackets — the batch's
              order statistic at p-delta rounded DOWN (method="lower")
              and at p+delta rounded UP (method="higher"). Only
              (batch x column) summary rows leave the workers.
      driver: global count/min/max are exact; the bracket is the
              min/max envelope of the batch candidates. A counting
              argument makes it contain both order statistics for ANY
              batching: if every batch's low candidate exceeded x_k,
              at most sum_b floor((n_b-1)(p-delta)) <= (n-1)p values
              would be <= x_k, but there are k+1 > (n-1)p of them (and
              symmetrically for the high candidates and x_ceil(h)).
      pass B (mapInPandas): per batch per column, the count of values
              strictly below each bracket's low end plus the values
              inside the bracket. The driver merges, sorts, re-checks
              that both ranks landed inside and interpolates with
              Catalyst's arithmetic (_interp).

    Driver memory is bounded by construction: a zero-width bracket
    (constant column, heavy tie mass at the quantile) ships tie COUNTS
    and verifies rank membership arithmetically; a batch whose
    in-bracket selection exceeds ~4x the bracket's expected share
    (value-clustered/sorted input) flags overflow, and that column
    takes the exact aggregate (_exact_melt_quantiles) instead of
    shipping the blowup. The common case gathers ~2*delta*n values per
    column (0.4% at delta=0.002); no pass shuffles cell values.

    The call executes its passes EAGERLY and returns a small local
    frame.
    """
    import numpy as np
    import pandas as pd

    from ..sources.registry import widen_partitions

    spark = wide_df.sparkSession
    metric_cols = [c for c in wide_df.columns if c not in exclude]
    ncols = len(metric_cols)
    if not ncols:
        return spark.createDataFrame([], _SCHEMA)
    cells = widen_partitions(_doubles(wide_df, metric_cols))
    delta = 0.002
    p_down = [max(0.0, q_low - delta), max(0.0, q_high - delta)]
    p_up = [min(1.0, q_low + delta), min(1.0, q_high + delta)]

    def values(pdf, c):
        # nulls arrive as NaN; the projection already mapped NaN cells
        # to null, so dropping NaN drops exactly the null cells
        v = pdf[c].to_numpy(dtype="float64", copy=False)
        return v[~np.isnan(v)]

    def pass_a(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("i", "n", "mn", "mx", "lo1", "hi1", "lo9", "hi9")}
            for i, c in enumerate(metric_cols):
                v = values(pdf, c)
                out["i"].append(i)
                out["n"].append(len(v))
                if len(v) == 0:
                    for k in ("mn", "mx", "lo1", "hi1", "lo9", "hi9"):
                        out[k].append(None)
                    continue
                lo1, lo9 = np.quantile(v, p_down, method="lower")
                hi1, hi9 = np.quantile(v, p_up, method="higher")
                out["mn"].append(float(v.min()))
                out["mx"].append(float(v.max()))
                out["lo1"].append(float(lo1))
                out["hi1"].append(float(hi1))
                out["lo9"].append(float(lo9))
                out["hi9"].append(float(hi9))
            yield pd.DataFrame(out)

    a_rows = cells.mapInPandas(
        pass_a,
        "i int, n long, mn double, mx double, "
        "lo1 double, hi1 double, lo9 double, hi9 double",
    ).collect()

    n = [0] * ncols
    mn = [None] * ncols
    mx = [None] * ncols
    br = [[None, None, None, None] for _ in range(ncols)]
    for r in a_rows:
        i = r["i"]
        n[i] += r["n"]
        if r["mn"] is None:
            continue
        mn[i] = r["mn"] if mn[i] is None else min(mn[i], r["mn"])
        mx[i] = r["mx"] if mx[i] is None else max(mx[i], r["mx"])
        b = br[i]
        for j, (key, pick) in enumerate(
            (("lo1", min), ("hi1", max), ("lo9", min), ("hi9", max))
        ):
            b[j] = r[key] if b[j] is None else pick(b[j], r[key])

    probe = {i: tuple(br[i]) for i in range(ncols) if n[i] > 0}
    solved: dict[int, tuple] = {
        i: (None, None) for i in range(ncols) if n[i] == 0
    }

    def pass_b(batches):
        empty = np.array([], dtype="float64")
        for pdf in batches:
            out = {k: [] for k in ("i", "below1", "below9", "eq1", "eq9",
                                   "of1", "of9", "b1", "b9")}
            for i, c in enumerate(metric_cols):
                pb = probe.get(i)
                if pb is None:
                    continue
                v = values(pdf, c)
                lo1, hi1, lo9, hi9 = pb
                # per-batch gather allowance: ~4x the bracket's expected
                # share of this batch. A zero-width bracket ships COUNTS
                # only (a tie mass at the quantile costs 0 bytes), and a
                # batch whose selection blows past the allowance flags
                # overflow instead of shipping it — driver memory stays
                # at ~8*delta*n per column by construction.
                cap = int(8.0 * delta * len(v)) + 1024
                out["i"].append(i)
                out["below1"].append(int((v < lo1).sum()))
                out["below9"].append(int((v < lo9).sum()))
                for lo, hi, eq_k, of_k, b_k in (
                    (lo1, hi1, "eq1", "of1", "b1"),
                    (lo9, hi9, "eq9", "of9", "b9"),
                ):
                    if lo == hi:
                        out[eq_k].append(int((v == lo).sum()))
                        out[of_k].append(False)
                        out[b_k].append(empty)
                    else:
                        sel = v[(v >= lo) & (v <= hi)]
                        over = len(sel) > cap
                        out[eq_k].append(0)
                        out[of_k].append(bool(over))
                        out[b_k].append(empty if over else sel)
            yield pd.DataFrame(out)

    fallback: list[str] = []
    if probe:
        b_rows = cells.mapInPandas(
            pass_b,
            "i int, below1 long, below9 long, eq1 long, eq9 long, "
            "of1 boolean, of9 boolean, b1 array<double>, b9 array<double>",
        ).collect()
        acc = {i: [0, 0, 0, 0, False, False, [], []] for i in probe}
        for r in b_rows:
            a = acc[r["i"]]
            a[0] += r["below1"]
            a[1] += r["below9"]
            a[2] += r["eq1"]
            a[3] += r["eq9"]
            a[4] = a[4] or r["of1"]
            a[5] = a[5] or r["of9"]
            a[6].append(np.asarray(r["b1"], dtype="float64"))
            a[7].append(np.asarray(r["b9"], dtype="float64"))
        for i, (below1, below9, eq1, eq9, of1, of9, c1, c9) in acc.items():
            nn = n[i]
            lo1, hi1, lo9, hi9 = probe[i]
            res = []
            for p, below, eq, over, lo, hi, chunks in (
                (q_low, below1, eq1, of1, lo1, hi1, c1),
                (q_high, below9, eq9, of9, lo9, hi9, c9),
            ):
                ii = math.floor((nn - 1) * p) - below
                jj = min(math.ceil((nn - 1) * p), nn - 1) - below
                if over:
                    res.append(None)  # gather cap hit -> exact fallback
                elif lo == hi:
                    # counts-only verification: both ranks must land in
                    # the tie run at the (zero-width) envelope value
                    ok = ii >= 0 and jj < eq
                    res.append(_interp(lo, hi, nn, p) if ok else None)
                else:
                    vals = np.sort(np.concatenate(chunks))
                    if ii < 0 or jj >= len(vals):
                        res.append(None)  # envelope missed -> exact
                    else:
                        res.append(
                            _interp(float(vals[ii]), float(vals[jj]), nn, p)
                        )
            if None in res:
                fallback.append(metric_cols[i])
            else:
                solved[i] = tuple(res)

    if fallback:
        fb = _exact_melt_quantiles(cells, fallback, q_low, q_high)
        for c, qs in fb.items():
            solved[metric_cols.index(c)] = qs

    rows = [
        (metric_cols[i], mn[i], mx[i], *solved[i]) for i in range(ncols)
    ]
    return spark.createDataFrame(rows, _SCHEMA)
