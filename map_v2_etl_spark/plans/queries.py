"""Named query registry — the engine's declared operator surface.

Each entry is one operator/query from SURVEY.md §2 expressed Spark-first
over the driver's TPC-H-ish testdata, with a DuckDB-runnable ANSI-SQL
oracle. The driver (and tools/check_oracle.py) runs both sides at sf=0.01
and compares row count + schema + order-insensitive value hash.

Determinism rules used throughout (so Spark and DuckDB agree bit-for-bit):
  * money sums go through DECIMAL(20,4): double -> decimal cast is a fixed
    rounding of the same IEEE value in both engines, decimal addition is
    exact and order-independent (a double sum would vary with partition
    order); final CAST back to DOUBLE for a stable schema.
  * every computed column is aliased identically on both sides.
  * ties in top-k / limit queries are broken by a unique key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..sources.registry import load_table
from .registry import REGISTRY, query


def _dec_sum(col, alias):
    """Order-independent exact sum of a double money column (see module doc)."""
    return F.sum(F.col(col).cast("decimal(20,4)")).cast("double").alias(alias)


# --------------------------------------------------------------------------
# Core reference operators (SURVEY.md §2) on the testdata star schema
# --------------------------------------------------------------------------

_PIVOT_YEARS = list(range(1995, 2002))


@query(
    "pivot_wide",
    # conditional aggregation is the relational definition of the pivot
    "SELECT o_custkey, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = {y} "
        f"THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS total_{y}"
        for y in _PIVOT_YEARS
    )
    + ", COUNT(*) AS n_orders FROM orders GROUP BY o_custkey",
    tags=["A1", "pivot"],
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot (SURVEY §2.4 A1): one row per customer, one column
    per order-year — the shape-data.js operator re-keyed onto orders.
    Single shuffle: groupBy + conditional aggregates (map-side partial agg)."""
    orders = load_table(spark, "orders", sf_dir)
    yr = F.year("o_orderdate")
    aggs = [
        F.sum(F.when(yr == y, F.col("o_totalprice").cast("decimal(20,4)")))
        .cast("double")
        .alias(f"total_{y}")
        for y in _PIVOT_YEARS
    ]
    return orders.groupBy("o_custkey").agg(*aggs, F.count("*").alias("n_orders"))


_EXTENT_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "extents",
    " UNION ALL ".join(
        f"SELECT '{c}' AS id, MIN({c}) AS vmin, MAX({c}) AS vmax, "
        f"quantile_cont({c}, 0.01) AS q1, quantile_cont({c}, 0.99) AS q99 "
        f"FROM lineitem"
        for c in _EXTENT_COLS
    ),
    tags=["A2", "A3", "A4", "A5", "extents"],
)
def q_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column min/max/exact R-7 percentiles (SURVEY §2.4 A2-A5) — the
    extract-extents.js operator: the Arrow two-pass order-statistic
    selection, which never shuffles cell values."""
    from ..operators.extents import column_extents

    li = load_table(spark, "lineitem", sf_dir).select(*_EXTENT_COLS)
    ext = column_extents(li, exclude=())
    return ext.select(
        "id",
        F.col("min").alias("vmin"),
        F.col("max").alias("vmax"),
        "q1",
        "q99",
    )


@query(
    "rename_project",
    "SELECT l_orderkey AS okey, l_linenumber AS line, l_quantity AS qty, "
    "l_returnflag AS rf FROM lineitem",
    tags=["P1", "projection"],
)
def q_rename_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rename+project through a column map, unmapped columns dropped
    (SURVEY §2.2 P1, shape-data.js:31-43). Catalyst prunes the parquet scan
    to exactly these four columns."""
    col_map = {"l_orderkey": "okey", "l_linenumber": "line",
               "l_quantity": "qty", "l_returnflag": "rf"}
    li = load_table(spark, "lineitem", sf_dir)
    return li.select([F.col(k).alias(v) for k, v in col_map.items()])


@query(
    "falsy_fill",
    "SELECT doc_id, CASE WHEN NULLIF(CASE WHEN lang = 'en' THEN '' ELSE lang END, '') "
    "IS NULL THEN 'United States' ELSE lang END AS pl FROM documents",
    tags=["A6", "F4"],
)
def q_falsy_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS-falsy default fill (SURVEY §2.4 A6): empty string treated as
    missing, unlike plain COALESCE (shape-data.js:45-47)."""
    from ..functions.scalars import falsy_fill

    docs = load_table(spark, "documents", sf_dir)
    blanked = F.when(F.col("lang") == "en", F.lit("")).otherwise(F.col("lang"))
    return docs.select("doc_id", falsy_fill(blanked, "United States").alias("pl"))


@query(
    "attr_join",
    "SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region, "
    "c.c_acctbal FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey",
    tags=["J1", "join", "broadcast"],
)
def q_attr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute equi-join onto a fact table (SURVEY §2.3 J1 — the
    tile-join CSV->features join). Dimension sides are broadcast: zero
    shuffle of the big side at any scale."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey", "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "c_acctbal",
        )
    )


@query(
    "layer_union",
    "SELECT 'bubble' AS layer, c_nationkey AS k, "
    "CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS v, "
    "CAST(NULL AS BIGINT) AS n_small FROM customer GROUP BY c_nationkey "
    "UNION ALL SELECT 'choropleth' AS layer, s_nationkey AS k, "
    "CAST(SUM(CAST(s_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS v, "
    "COUNT(*) AS n_small FROM supplier GROUP BY s_nationkey",
    tags=["J2", "union"],
)
def q_layer_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer merge (SURVEY §2.3 J2 — tile-join union of bubble+choropleth):
    unionByName with missing-column fill."""
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    bubble = c.groupBy(F.col("c_nationkey").alias("k")).agg(
        _dec_sum("c_acctbal", "v")
    ).select(F.lit("bubble").alias("layer"), "k", "v")
    choro = s.groupBy(F.col("s_nationkey").alias("k")).agg(
        _dec_sum("s_acctbal", "v"), F.count("*").alias("n_small")
    ).select(F.lit("choropleth").alias("layer"), "k", "v", "n_small")
    return bubble.unionByName(choro, allowMissingColumns=True)


@query(
    "column_slice",
    "SELECT o_custkey, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = {y} "
        f"THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS total_{y}"
        for y in _PIVOT_YEARS[:3]
    )
    + " FROM orders GROUP BY o_custkey",
    tags=["P3", "P5", "slice"],
)
def q_column_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decade/column-group slice (SURVEY §2.2 P3/P5 — csvcut field lists):
    select a year-window of wide columns. Catalyst prunes the unused
    aggregate branches out of the plan."""
    wide = q_pivot_wide(spark, sf_dir)
    keep = ["o_custkey"] + [f"total_{y}" for y in _PIVOT_YEARS[:3]]
    return wide.select(*keep)


@query(
    "sort_limit",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    tags=["O1", "O2", "sort", "limit"],
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (SURVEY §2.6): Spark plans TakeOrderedAndProject
    — per-partition top-k then merge, never a full global sort."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "topk_per_group",
    "SELECT * FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, "
    "ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, "
    "l_orderkey, l_linenumber) AS rn FROM lineitem) t WHERE rn <= 3",
    tags=["O3", "window", "topk"],
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (SURVEY §2.6 O3 — density-based feature dropping):
    rank window + filter; AQE handles group skew."""
    li = load_table(spark, "lineitem", sf_dir)
    w = W.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query(
    "distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=["setop", "distinct"],
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (SURVEY §2.4 extension surface): hash-aggregate dedup."""
    return load_table(spark, "customer", sf_dir).select(
        "c_mktsegment", "c_nationkey"
    ).distinct()


@query(
    "rollup",
    "SELECT EXTRACT(YEAR FROM o_orderdate) AS yr, o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total "
    "FROM orders GROUP BY ROLLUP(EXTRACT(YEAR FROM o_orderdate), o_orderstatus)",
    tags=["agg", "rollup"],
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.4 extension surface)."""
    o = load_table(spark, "orders", sf_dir).withColumn("yr", F.year("o_orderdate"))
    return o.rollup("yr", "o_orderstatus").agg(
        F.count("*").alias("n"), _dec_sum("o_totalprice", "total")
    )


@query(
    "cube",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS qty "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
    tags=["agg", "cube"],
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (SURVEY §2.4 extension surface)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), _dec_sum("l_quantity", "qty")
    )


@query(
    "window_analytics",
    "SELECT o_custkey, o_orderkey, "
    "LAG(o_orderkey) OVER w AS prev_key, "
    "LEAD(o_orderkey) OVER w AS next_key, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) "
    "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total "
    "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)",
    tags=["window", "analytic"],
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/running aggregate (SURVEY §2.5 declared window surface)."""
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.sum(F.col("o_totalprice").cast("decimal(20,4)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_total"),
    )


@query(
    "set_ops",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
    "INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 0 "
    "UNION SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE' "
    "EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal < -900",
    tags=["setop", "intersect", "except"],
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / UNION / EXCEPT (SURVEY §2.7)."""
    c = load_table(spark, "customer", sf_dir)
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    positive = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    deep_neg = c.filter(F.col("c_acctbal") < -900).select("c_custkey")
    # SQL precedence: INTERSECT binds tighter; UNION/EXCEPT left-to-right
    return building.intersect(positive).union(auto).distinct().exceptAll(
        deep_neg.distinct()
    )


@query(
    "semi_anti_join",
    "SELECT 'with_orders' AS side, COUNT(*) AS n FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) "
    "UNION ALL SELECT 'without_orders' AS side, COUNT(*) AS n FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    tags=["join", "semi", "anti"],
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti joins (SURVEY §2.3 declared surface)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n")
    ).select(F.lit("with_orders").alias("side"), "n")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n")
    ).select(F.lit("without_orders").alias("side"), "n")
    return semi.unionByName(anti)


@query(
    "scalar_funcs",
    "SELECT p_partkey, "
    "UPPER(p_brand) AS brand_u, "
    "SUBSTRING(p_type, 1, 5) AS type5, "
    "RIGHT(p_name, 3) AS name_r3, "
    "CONCAT_WS('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size, "
    "LENGTH(p_name) AS name_len, "
    "ROUND(p_retailprice, 1) AS price_r, "
    "ABS(p_size - 25) AS size_dev, "
    "CAST(p_partkey AS VARCHAR) AS key_str "
    "FROM part",
    tags=["F1", "F2", "F3", "scalar"],
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/cast scalar surface (SURVEY §2.8 F1-F3,F7): slice,
    concat_ws, casts — all JVM-side Column expressions."""
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.right(F.col("p_name"), F.lit(3)).alias("name_r3"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.length("p_name").alias("name_len"),
        F.round("p_retailprice", 1).alias("price_r"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.col("p_partkey").cast("string").alias("key_str"),
    )


@query(
    "date_funcs",
    "SELECT o_orderkey, "
    "EXTRACT(YEAR FROM o_orderdate) AS yr, "
    "EXTRACT(MONTH FROM o_orderdate) AS mo, "
    "EXTRACT(DAY FROM o_orderdate) AS dom, "
    "CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start, "
    "RIGHT(CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR), 2) AS yy "
    "FROM orders",
    tags=["F1", "date"],
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction + the reference's year->yy slice (F1) applied
    to a real timestamp column."""
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.right(F.year("o_orderdate").cast("string"), F.lit(2)).alias("yy"),
    )


@query(
    "count_distinct",
    "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, "
    "COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows "
    "FROM lineitem GROUP BY l_returnflag",
    tags=["agg", "distinct"],
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT (expand + two-phase agg in Spark)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "approx_count_distinct",
    # HLL sketch values are engine-specific, so the hashable output is the
    # EXACT distinct count plus a bounds assertion on the sketch: the
    # estimate must land within 10% of truth (measured ~2.5% at every SF;
    # default rsd is 0.05, so 10% is a 2-sigma envelope). The oracle
    # expects approx_ok = TRUE — a drifting sketch flips the hash red.
    "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact, "
    "TRUE AS approx_ok FROM lineitem GROUP BY l_returnflag",
    tags=["agg", "approx"],
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) with an in-query certification: emits
    the exact distinct count and whether the sketch estimate is within 10%
    of it, making an approximate operator hash-checkable (same pattern as
    the LSH-vs-exact dedup oracles)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey")
                - F.countDistinct("l_partkey")
            )
            <= 0.10 * F.countDistinct("l_partkey")
        ).alias("approx_ok"),
    )


# --------------------------------------------------------------------------
# TPC-H-style multi-operator queries (join ordering, agg, filter pushdown)
# --------------------------------------------------------------------------


@query(
    "tpch_q1",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS sum_disc_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4))) * (1 + CAST(l_tax AS DECIMAL(20,4)))) AS DOUBLE) AS sum_charge, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
    tags=["tpch", "agg", "filter"],
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter pushdown + wide aggregation. Decimal
    arithmetic keeps sums order-independent across partitions."""
    li = load_table(spark, "lineitem", sf_dir)
    ep = F.col("l_extendedprice").cast("decimal(20,4)")
    dc = F.col("l_discount").cast("decimal(20,4)")
    tx = F.col("l_tax").cast("decimal(20,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(ep * (1 - dc)).cast("double").alias("sum_disc_price"),
            F.sum(ep * (1 - dc) * (1 + tx)).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_q3",
    "SELECT l_orderkey, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue, "
    "o_orderdate, o_orderpriority "
    "FROM customer, orders, lineitem "
    "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey "
    "AND l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
    "AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority",
    tags=["tpch", "join", "agg"],
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> broadcast join chain ->
    aggregation. Filters push to the parquet scans."""
    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = (F.col("l_extendedprice").cast("decimal(20,4)")
           * (1 - F.col("l_discount").cast("decimal(20,4)")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5",
    "SELECT n_name, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue "
    "FROM customer, orders, lineitem, supplier, nation, region "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY n_name",
    tags=["tpch", "join", "agg"],
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with region filter; small dims broadcast,
    fact-fact join shuffles on the join key once."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice").cast("decimal(20,4)")
           * (1 - F.col("l_discount").cast("decimal(20,4)")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }
