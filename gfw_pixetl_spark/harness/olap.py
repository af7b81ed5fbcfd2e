"""Classic OLAP surface, wave 3: multi-join star queries, relational set
ops, regression aggregates, SCD2 interval builds, equi-depth histograms,
deterministic median/mode, calendar rollups with distinct aggregates,
correlated-subquery decorrelation, and Pareto frontiers.

The reference has no relational join/agg surface of its own (SURVEY §2.4:
all joins are spatial) — this wave is the "complete analytics engine"
extension the harness tables exist for. Scale notes per query: every join
here is either broadcast (dims) or AQE-planned shuffle on the natural key;
no query materializes an unpartitioned global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register
from .core import SQL_DAVG, SQL_DSUM, davg, dec2, dsum


# --------------------------------------------------------------------------
# q101 — TPC-H Q3 shape: shipping priority. customer (broadcast semi-
# reduction) ⨝ orders ⨝ lineitem, decimal-exact revenue, top-10. The two
# fact joins shuffle on o_orderkey; AQE coalesces post-filter partitions.
# --------------------------------------------------------------------------
@register(
    "q101_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))))
                AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    one_minus_disc = F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast(
        "decimal(7,6)"
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec2("l_extendedprice") * one_minus_disc)
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


# --------------------------------------------------------------------------
# q102 — TPC-H Q5 shape: regional supplier volume. The full snowflake:
# region→nation (broadcast) → customer → orders → lineitem → supplier
# (broadcast), with the c_nationkey = s_nationkey colocation predicate.
# Only two shuffles survive: orders⨝customer on custkey, ⨝lineitem on
# orderkey — everything dimensional is broadcast.
# --------------------------------------------------------------------------
@register(
    "q102_regional_revenue",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    one_minus_disc = F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast(
        "decimal(7,6)"
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(dec2("l_extendedprice") * one_minus_disc)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# --------------------------------------------------------------------------
# q103 — relational set ops (U2, absent from the reference): year-over-year
# customer cohorts via INTERSECT / EXCEPT. Each set op is a shuffle on the
# key with partial dedup map-side; the three legs reuse the same two scans.
# --------------------------------------------------------------------------
@register(
    "q103_setops_cohorts",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                   AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
    SELECT 'retained' AS cohort, o_custkey FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'churned'  AS cohort, o_custkey FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    UNION ALL
    SELECT 'acquired' AS cohort, o_custkey FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)
    """,
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def buyers(year: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate")
                 >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate")
                   < F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    # each cohort table participates in all three set operations —
    # checkpoint so each year's distinct scan runs once, not three times
    y95 = buyers(1995).localCheckpoint(eager=False)
    y96 = buyers(1996).localCheckpoint(eager=False)
    tag = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("cohort"), "o_custkey"
    )
    return (
        tag(y95.intersect(y96), "retained")
        .unionByName(tag(y95.exceptAll(y96).distinct(), "churned"))
        .unionByName(tag(y96.exceptAll(y95).distinct(), "acquired"))
    )


# --------------------------------------------------------------------------
# q104 — regression/correlation aggregates (beyond-reference statistics):
# corr, covar_samp, regr_slope/intercept of extendedprice ~ quantity per
# returnflag. Single partial-aggregable pass (co-moment sketches merge).
# --------------------------------------------------------------------------
@register(
    "q104_regression",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           round(corr(l_extendedprice, l_quantity), 6) AS r,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS cov,
           round(regr_slope(l_extendedprice, l_quantity), 5) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr(y, x), 6).alias("r"),
        F.round(F.covar_samp(y, x), 2).alias("cov"),
        F.round(F.regr_slope(y, x), 5).alias("slope"),
        F.round(F.regr_intercept(y, x), 2).alias("intercept"),
    )


# --------------------------------------------------------------------------
# q105 — SCD2 dimension build: collapse each user's event stream into
# type-2 validity intervals (attribute = event_type). Change detection is
# lag(), interval close is lead() over change rows only — two narrow
# windows partitioned by user, no global sort.
# --------------------------------------------------------------------------
@register(
    "q105_scd2_intervals",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from FROM flagged WHERE chg = 1
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
           row_number() OVER (PARTITION BY user_id ORDER BY valid_from) AS version
    FROM changes
    """,
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    prev = F.lag("event_type").over(w)
    changes = (
        ev.withColumn(
            "chg", F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
        )
        .filter(F.col("chg") == 1)
        .select("user_id", "event_type", F.col("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
    )


# --------------------------------------------------------------------------
# q106 — equi-depth histogram WITHOUT a global window: decile bounds from
# one distributed exact-percentile aggregate, broadcast back, bucket by
# counting bounds <= value. ntile() would force every row through one
# task; this stays fully parallel at any scale. (Bound values live in
# open intervals between 2-decimal money values, so the >= comparisons
# agree across engines despite last-ulp interpolation differences.)
# --------------------------------------------------------------------------
@register(
    "q106_equidepth_hist",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(l_extendedprice,
                           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM lineitem
    )
    SELECT len(list_filter(b.qs, q -> l_extendedprice >= q)) AS bucket,
           COUNT(*) AS n,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem, b
    GROUP BY bucket
    """,
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import exact_quantiles

    li = load(spark, sf_dir, "lineitem")
    # decile bounds via distributed range-partitioned selection (see
    # functions/quantiles.py) — Spark's exact percentile aggregate is a
    # single-reducer O(n)-state merge, ~3s at sf0.1; this is parallel.
    # Bounds come back as 9 driver floats, so bucketing is 9 codegen'd
    # literal comparisons.
    bounds = exact_quantiles(
        li, "l_extendedprice", [i / 10.0 for i in range(1, 10)]
    )
    bucket = sum(
        (
            F.when(F.col("l_extendedprice") >= F.lit(b), 1).otherwise(0)
            for b in bounds
        ),
        start=F.lit(0),
    )
    return (
        li.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# q107 — deterministic median + mode per group. Median = exact
# interpolated percentile (distributed sort-based agg); mode = two-phase
# count + smallest-value-wins tie-break so both engines agree regardless
# of hash order. No engine-native mode() is used — its tie-break is
# unspecified on both sides.
# --------------------------------------------------------------------------
@register(
    "q107_median_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ), best AS (
      SELECT l_returnflag, l_quantity, c,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, l_quantity ASC) AS rn
      FROM counts
    )
    SELECT m.l_returnflag,
           round(m.med, 6) AS med_qty,
           b.l_quantity AS mode_qty,
           b.c AS mode_n
    FROM (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
          FROM lineitem GROUP BY l_returnflag) m
    JOIN best b ON m.l_returnflag = b.l_returnflag AND b.rn = 1
    """,
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.percentile(F.col("l_quantity"), F.lit(0.5)), 6).alias("med_qty")
    )
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("l_quantity").asc()
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_n"),
        )
    )
    return med.join(mode, "l_returnflag").select(
        "l_returnflag", "med_qty", "mode_qty", "mode_n"
    )


# --------------------------------------------------------------------------
# q108 — calendar rollup with a distinct aggregate: orders per
# (year, quarter) with exact distinct-customer counts. COUNT(DISTINCT)
# expands to a two-phase partial-dedup aggregate in Spark — no extra
# shuffle beyond the group keys.
# --------------------------------------------------------------------------
@register(
    "q108_calendar_rollup",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           {SQL_DSUM('o_totalprice')} AS total,
           {SQL_DAVG('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY yr, qtr
    """,
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("yr", F.year("o_orderdate"))
        .withColumn("qtr", F.quarter("o_orderdate"))
        .groupBy("yr", "qtr")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum("o_totalprice", "total"),
            davg("o_totalprice", "avg_price"),
        )
    )


# --------------------------------------------------------------------------
# q109 — correlated-subquery decorrelation: orders 1.5x above their own
# customer's average. The correlated scalar subquery becomes one
# aggregate + one self-join on o_custkey — both sides of the join arrive
# pre-partitioned on the same key, so AQE plans a single shuffle.
# --------------------------------------------------------------------------
@register(
    "q109_above_avg_orders",
    oracle=f"""
    WITH ca AS (
      SELECT o_custkey, {SQL_DSUM('o_totalprice')} / COUNT(*) AS cavg
      FROM orders GROUP BY o_custkey
    )
    SELECT o_orderkey, o.o_custkey, o_totalprice, round(cavg, 6) AS cust_avg
    FROM orders o JOIN ca ON o.o_custkey = ca.o_custkey
    WHERE o_totalprice > 1.5 * cavg
    """,
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ca = orders.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")).cast("double") / F.count("*")).alias("cavg")
    )
    return (
        orders.join(ca, "o_custkey")
        .filter(F.col("o_totalprice") > 1.5 * F.col("cavg"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            # round 6, not 2: the decimal-sum/count double can land exactly
            # on a cent half-boundary where engine rounding modes diverge
            F.round("cavg", 6).alias("cust_avg"),
        )
    )


# --------------------------------------------------------------------------
# q110 — Pareto frontier per brand (skyline): parts not strictly dominated
# on (cheaper price, larger size). The quadratic NOT EXISTS is rewritten
# as a per-brand running max over distinct prices — O(n log n), shuffle
# only on p_brand. Oracle keeps the quadratic form as ground truth.
# --------------------------------------------------------------------------
@register(
    "q110_pareto_parts",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_retailprice < p.p_retailprice
        AND q.p_size > p.p_size
    )
    """,
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    per_price = part.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cheaper = per_price.withColumn(
        "cheaper_best", F.max("best_size").over(w)
    ).select("p_brand", "p_retailprice", "cheaper_best")
    return (
        part.join(cheaper, ["p_brand", "p_retailprice"])
        .filter(
            F.col("cheaper_best").isNull()
            | (F.col("cheaper_best") <= F.col("p_size"))
        )
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
    )


# --------------------------------------------------------------------------
# q120 — TPC-H Q13 shape: distribution of customers by order count,
# INCLUDING zero-order customers (the left outer join is the point — an
# inner join silently drops the zero bucket). Two hash aggregations, the
# second over customer-cardinality rows.
# --------------------------------------------------------------------------
@register(
    "q120_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# q121 — TPC-H Q18 shape: large-volume orders. The HAVING-subquery
# (orders whose total quantity exceeds a threshold) becomes one
# aggregate + semi-join back to the detail; both sides are already
# partitioned on l_orderkey/o_orderkey so AQE plans a single shuffle
# per side and reuses the aggregate's exchange.
# --------------------------------------------------------------------------
@register(
    "q121_big_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           {SQL_DSUM('l_quantity')} AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY o_orderkey, o_orderdate, o_totalprice
    """,
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


# --------------------------------------------------------------------------
# q122 — cumulative distinct count over time: distinct event types each
# user has seen up to each event. Windows can't take COUNT(DISTINCT);
# the standard rewrite marks each (user, type)'s FIRST occurrence and
# running-sums the marks — two partitioned windows, no quadratic
# re-scan.
# --------------------------------------------------------------------------
@register(
    "q122_cumulative_distinct",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_types_so_far
    FROM marked
    """,
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts"), F.col("event_id")
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.withColumn(
        "first_seen",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
    )
    return marked.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_cum).alias("distinct_types_so_far"),
    )


# --------------------------------------------------------------------------
# q123 — TPC-H Q7 shape: the full nation→nation trade-flow matrix by
# year (no pair filter — the whole matrix is the point). Supplier and
# customer nations resolve through two broadcast joins against the same
# 25-row dim; facts shuffle only on their join keys.
# --------------------------------------------------------------------------
@register(
    "q123_trade_flows",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS yr,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))))
                AS DOUBLE) AS volume,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    GROUP BY ns.n_name, nc.n_name, yr
    """,
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    one_minus_disc = F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast(
        "decimal(7,6)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .withColumn("yr", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(
            F.sum(dec2("l_extendedprice") * one_minus_disc)
            .cast("double")
            .alias("volume"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q124 — UNPIVOT (the inverse of q68's pivot): widen-then-melt the three
# lineitem money measures into (measure, value) rows via stack() — a
# map-only projection that multiplies rows without any shuffle before
# the final aggregate.
# --------------------------------------------------------------------------
@register(
    "q124_unpivot_measures",
    oracle="""
    WITH melted AS (
      SELECT l_returnflag, measure, val
      FROM (SELECT l_returnflag, l_extendedprice, l_discount, l_tax
            FROM lineitem)
      UNPIVOT (val FOR measure IN (l_extendedprice, l_discount, l_tax))
    )
    SELECT l_returnflag, measure, COUNT(*) AS n,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM melted GROUP BY l_returnflag, measure
    """,
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'l_extendedprice', l_extendedprice,"
            " 'l_discount', l_discount, 'l_tax', l_tax)"
        ).alias("measure", "val"),
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count("*").alias("n"),
        F.sum(dec2("val")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# q125 — null-safe equality join (<=> / IS NOT DISTINCT FROM): match on a
# nullable derived key where NULL must equal NULL. A plain equi-join
# silently drops the null bucket; the null-safe operator keeps it while
# still hash-partitioning (null is just another key value).
# --------------------------------------------------------------------------
@register(
    "q125_nullsafe_join",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS pri
      FROM orders
    ), r AS (
      SELECT NULLIF(o_orderpriority, '1-URGENT') AS pri, COUNT(*) AS n_side
      FROM orders GROUP BY 1
    )
    SELECT l.pri, r.n_side, COUNT(*) AS n
    FROM l JOIN r ON l.pri IS NOT DISTINCT FROM r.pri
    GROUP BY l.pri, r.n_side
    """,
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    pri = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.lit(None).cast("string")
    ).otherwise(F.col("o_orderpriority"))
    left = orders.select("o_orderkey", pri.alias("pri"))
    right = (
        orders.select(pri.alias("rpri"))
        .groupBy("rpri")
        .agg(F.count("*").alias("n_side"))
    )
    return (
        left.join(right, left.pri.eqNullSafe(right.rpri))
        .groupBy("pri", "n_side")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# q129 — weighted quantiles via distributed selection: deciles of
# extendedprice weighted by quantity (the sample-weighting shape of
# corpus curation: "price below which X% of UNITS ship"). Weights are
# integral, so every cumulative sum is exact and the crossing values
# match the SQL window formulation bit-for-bit.
# --------------------------------------------------------------------------
_WQ_PS = [0.1, 0.25, 0.5, 0.75, 0.9]


@register(
    "q129_weighted_quantiles",
    oracle=f"""
    WITH per_v AS (
      SELECT l_extendedprice AS v, SUM(l_quantity) AS w
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT v, SUM(w) OVER (ORDER BY v) AS cw,
             SUM(w) OVER () AS total
      FROM per_v
    )
    SELECT p, MIN(v) AS value FROM cum
    JOIN (SELECT CAST(unnest([{", ".join(map(str, _WQ_PS))}]) AS DOUBLE) AS p)
      ON cw >= p * total
    GROUP BY p
    """,
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import weighted_quantiles

    li = load(spark, sf_dir, "lineitem")
    vals = weighted_quantiles(li, "l_extendedprice", "l_quantity", _WQ_PS)
    # single-slice parallelize: avoid 32 Python tasks for 5 local rows
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(zip(_WQ_PS, vals)), 1),
        "p double, value double",
    )


# --------------------------------------------------------------------------
# q130 — TPC-H Q4 shape: order-priority checking. EXISTS (a lineitem
# shipped after commit... here: shipped in-quarter) becomes a broadcast-
# able semi-join; counts group on the 5-value priority dim.
# --------------------------------------------------------------------------
@register(
    "q130_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --------------------------------------------------------------------------
# q131 — TPC-H Q6 shape: forecasting revenue change. Pure scan + filter
# + one decimal aggregate — the predicate-pushdown showcase (all three
# filters reach the parquet reader).
# --------------------------------------------------------------------------
@register(
    "q131_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(7,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                dec2("l_extendedprice") * F.col("l_discount").cast("decimal(7,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q132 — TPC-H Q14 shape: promotion effect. Conditional aggregation over
# a broadcast part join — promo share = 100 * promo revenue / total.
# --------------------------------------------------------------------------
@register(
    "q132_promo_share",
    oracle="""
    SELECT round(
             100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))
                       ELSE CAST(0 AS DECIMAL(25,8)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))))
                    AS DOUBLE), 6) AS promo_share,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = dec2("l_extendedprice") * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(
                F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(
                    F.lit(0).cast("decimal(25,8)")
                )
            ).cast("double")
            / F.sum(disc).cast("double"),
            6,
        ).alias("promo_share"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# q133 — TPC-H Q19 shape: discounted revenue over a disjunction of
# (brand, size, quantity) band predicates — the complex-OR pushdown
# test: the join stays a single broadcast equi-join on partkey with the
# OR evaluated post-join in codegen, never a union of three scans.
# --------------------------------------------------------------------------
@register(
    "q133_brand_bands",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    one_minus_disc = F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast(
        "decimal(7,6)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(dec2("l_extendedprice") * one_minus_disc)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q134 — TPC-H Q22 shape: customers with above-average (positive)
# balance and no RECENT orders (lapsed wealthy accounts): a broadcast
# scalar threshold + date-filtered anti-join, grouped by nation.
# --------------------------------------------------------------------------
@register(
    "q134_idle_wealthy",
    oracle="""
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, thr
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(dec2("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec2("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# q135 — per-group exact quantiles via single-pass grouped distributed
# selection (functions/quantiles.py::grouped_exact_quantiles): the
# few-huge-groups shape where groupBy().agg(percentile) funnels each
# group through one reducer. Joint (group, value) range partitioning
# lets one group span many partitions.
# --------------------------------------------------------------------------
_GQ_PS = [0.25, 0.5, 0.75]


@register(
    "q135_grouped_quantiles",
    oracle=" UNION ALL ".join(
        f"""SELECT l_returnflag AS grp, CAST({p} AS DOUBLE) AS p,
            round(quantile_cont(l_extendedprice, {p}), 6) AS value
            FROM lineitem GROUP BY l_returnflag"""
        for p in _GQ_PS
    ),
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import grouped_exact_quantiles

    li = load(spark, sf_dir, "lineitem")
    out = grouped_exact_quantiles(li, "l_returnflag", "l_extendedprice", _GQ_PS)
    return out.select(
        F.col("group").alias("grp"), "p", F.round("value", 6).alias("value")
    )


# --------------------------------------------------------------------------
# q142 — robust outliers via median absolute deviation (MAD): per-group
# median and MAD both computed by the grouped distributed-selection
# operator (two passes, no single-reducer percentile), then outliers =
# |x - med| > 1.8 * MAD (tuned to the harness data; 3-5x on real heavy tails). The robust twin of q97's z-score (which a heavy
# tail can mask).
# --------------------------------------------------------------------------
@register(
    "q142_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY 1
    ), mad AS (
      SELECT g, quantile_cont(abs(l_extendedprice - m), 0.5) AS mad
      FROM lineitem JOIN med ON l_returnflag = g GROUP BY g
    )
    SELECT med.g AS g, COUNT(*) AS n_outliers
    FROM lineitem JOIN med ON l_returnflag = med.g JOIN mad ON med.g = mad.g
    WHERE abs(l_extendedprice - m) > 1.8 * mad.mad
    GROUP BY med.g
    """,
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import grouped_exact_quantile_values

    li = load(spark, sf_dir, "lineitem")
    # ONE scan of the fact table builds the (group, value) counts; the
    # median, the MAD median and the outlier tally all run over that
    # ~3x smaller table with exact unit-weighted ranks (bit-identical
    # to the former per-row selections). The counts subtree feeds three
    # consumers, so it is lazily checkpointed — here the duplicated
    # subtree IS a full fact scan, the case where the checkpoint's
    # fixed cost pays for itself.
    cnt = (
        li.groupBy(F.col("l_returnflag").alias("g"),
                   F.col("l_extendedprice").alias("v"))
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=False)
    )
    # ONE bounds aggregation serves both selections: the MAD pass's
    # deviations are bounded by [0, max(m - lo, hi - m)] and its total
    # weight per group equals the median pass's (|v - m| is a value
    # RELABELING of the same weighted multiset).
    vbounds = {
        r["g"]: (r["lo"], r["hi"], int(r["n"]))
        for r in cnt.groupBy("g").agg(
            F.min(F.col("v").cast("double")).alias("lo"),
            F.max(F.col("v").cast("double")).alias("hi"),
            F.sum("w").alias("n"),
        ).collect()
    }
    med_rows = {
        g: v
        for (g, _p), v in grouped_exact_quantile_values(
            cnt, "g", "v", [0.5], weight_col="w", bounds=vbounds
        ).items()
    }
    # the 3 medians inline as a literal when-chain (same doubles the
    # former broadcast join carried — stays in whole-stage codegen)
    m_expr = F.coalesce(*[
        F.when(F.col("g") == F.lit(g), F.lit(m))
        for g, m in med_rows.items()
    ])
    dev = cnt.withColumn("m", m_expr).withColumn(
        "adev", F.abs(F.col("v") - F.col("m"))
    )
    abounds = {
        g: (0.0, max(med_rows[g] - lo, hi - med_rows[g]), n)
        for g, (lo, hi, n) in vbounds.items()
    }
    mad_rows = {
        g: v
        for (g, _p), v in grouped_exact_quantile_values(
            dev, "g", "adev", [0.5], weight_col="w", bounds=abounds
        ).items()
    }
    mad_expr = F.coalesce(*[
        F.when(F.col("g") == F.lit(g), F.lit(m))
        for g, m in mad_rows.items()
    ])
    return (
        dev.filter(F.col("adev") > 1.8 * mad_expr)
        .groupBy("g")
        .agg(F.sum("w").alias("n_outliers"))
    )


# --------------------------------------------------------------------------
# q143 — top-k WITH ties (RANK, not row_number): all parts tied at a
# top-3 price rank per brand survive — the semantics difference that
# silently loses rows when row_number is used for "top k".
# --------------------------------------------------------------------------
@register(
    "q143_topk_with_ties",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             rank() OVER (PARTITION BY p_brand
                          ORDER BY p_retailprice DESC) AS rnk
      FROM part
    ) WHERE rnk <= 3
    """,
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        part.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


# --------------------------------------------------------------------------
# q144 — conditional rows-frame window: error count within each user's
# last 10 events — a bounded ROWS frame with a CASE-filtered sum, the
# "recent failure rate" alerting shape.
# --------------------------------------------------------------------------
@register(
    "q144_recent_error_rate",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS recent_errors,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS window_n
    FROM events
    """,
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w)
        .alias("recent_errors"),
        F.count("*").over(w).alias("window_n"),
    )


# --------------------------------------------------------------------------
# q154 — national market share (TPC-H Q8 shape): a supplier nation's
# share of regional revenue for one product type, by order year. The
# scale shape: every dimension (region->nation, part, supplier) is a
# broadcast; the fact table shuffles once for the year aggregation, and
# the share is a conditional-sum / total-sum ratio in the same pass —
# no second join against a totals subquery.
# --------------------------------------------------------------------------
@register(
    "q154_market_share",
    oracle="""
    WITH sales AS (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))
               AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'CHINA' THEN volume
                              ELSE 0 END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM sales GROUP BY o_year
    """,
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cnation = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nkey"))
    snation = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    volume = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )
    sales = (
        load(spark, sf_dir, "lineitem")
        .join(load(spark, sf_dir, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(load(spark, sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cnation), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(load(spark, sf_dir, "supplier")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(snation), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"), "supp_nation",
        )
    )
    return sales.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "CHINA",
                         F.col("volume")).otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double")
            / F.sum("volume").cast("double")
        ).cast("double").alias("mkt_share")
    )


# --------------------------------------------------------------------------
# q155 — returned-item losses (TPC-H Q10 shape): top customers by
# revenue lost to returns in a quarter. Dimension broadcasts + one fact
# aggregation, then a top-k sort on the (tiny) aggregated set.
# --------------------------------------------------------------------------
@register(
    "q155_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(7,6))
                       - CAST(l_discount AS DECIMAL(7,6)))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load(spark, sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# q156 — top supplier(s) (TPC-H Q15 shape): suppliers whose period
# revenue equals the maximum. The max is a broadcast scalar (one row),
# so the "correlated subquery against a view" of the spec costs one
# extra reduction, not a re-scan.
# --------------------------------------------------------------------------
@register(
    "q156_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(7,6))
                         - CAST(l_discount AS DECIMAL(7,6)))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(7,6)")
               - F.col("l_discount").cast("decimal(7,6)"))
        ).cast("double").alias("total_revenue")
    ).localCheckpoint(eager=False)  # max probe + final join both read it
    top = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        load(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(top), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# q157 — small-quantity-order revenue (TPC-H Q17 shape): lines whose
# quantity is below 20% of their part's average. The per-part average
# is an aggregated (part-sized, not fact-sized) side that joins back
# broadcast — never a correlated re-scan of the fact table.
# --------------------------------------------------------------------------
@register(
    "q157_small_qty_orders",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey AS ap, AVG(CAST(l_quantity AS DOUBLE)) AS aq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN avg_qty ON l_partkey = ap
    WHERE l_quantity < 0.2 * aq
    GROUP BY p_brand
    """,
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.avg(F.col("l_quantity").cast("double")).alias("aq")
    )
    return (
        li.join(F.broadcast(load(spark, sf_dir, "part")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .groupBy("p_brand")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .cast("double") / 7.0).cast("double").alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# q225 — the TPC-H Q21 shape (suppliers who kept orders waiting),
# adapted to this schema: late = shipped > 60 days after order date.
# The classic formulation is a correlated EXISTS + NOT EXISTS on the
# fact table (the oracle runs it literally); the engine DECORRELATES it
# into one per-order aggregation — n_suppliers and n_late_suppliers as
# two count-distincts — and a filter (n_supp >= 2, n_late_supp = 1):
# one shuffle on orderkey instead of two correlated fact re-scans,
# which is the only formulation that survives 100 TB. Top-20 via
# TakeOrdered.
# --------------------------------------------------------------------------
@register(
    "q225_waiting_suppliers",
    oracle="""
    SELECT s.s_name AS s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")

    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate")
         > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .alias("late"),
    ).localCheckpoint(eager=False)  # per-order agg + waiting filter
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    waiting = (
        joined.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(F.broadcast(supp),
                     waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# q226 — the TPC-H Q16 shape (parts/supplier relationship): count
# distinct suppliers per (brand, type, size) band, excluding a brand
# and a NOT IN supplier subquery. The NOT IN becomes a broadcast anti
# join (s_suppkey is non-null, so the semantics coincide); the dim
# attributes arrive via a broadcast join; top-30 via TakeOrdered.
# --------------------------------------------------------------------------
@register(
    "q226_parts_supplier_bands",
    oracle="""
    SELECT p.p_brand AS p_brand, p.p_type AS p_type,
           CAST(p.p_size AS INT) AS p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 30
    """,
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int")
                 .alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("bigint")
             .alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type",
                 "p_size")
        .limit(30)
    )


# --------------------------------------------------------------------------
# q245 — the TPC-H Q2 shape (minimum-cost supplier), adapted to this
# schema: there is no partsupp table, so "supply cost" is the minimum
# observed unit price (l_extendedprice / l_quantity) each supplier ever
# charged for the part. The classic formulation is a correlated scalar
# subquery re-aggregating the fact per part; the engine DECORRELATES it
# into ONE aggregation (per part+supplier unit cost) plus a per-part
# window MIN — a single shuffle on l_partkey instead of a correlated
# re-scan, which is the only plan that survives 100 TB. Dims
# (supplier ⨝ nation ⨝ region) are broadcast. Top-100 via TakeOrdered.
# --------------------------------------------------------------------------
@register(
    "q245_min_cost_supplier",
    oracle="""
    WITH eu_supp AS (
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal,
             n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM eu_supp)
      GROUP BY 1, 2
    )
    SELECT s.s_acctbal AS s_acctbal, s.s_name AS s_name,
           s.n_name AS n_name, CAST(p.p_partkey AS BIGINT) AS p_partkey,
           p.p_name AS p_name, c.unit_cost AS unit_cost
    FROM cost c
    JOIN eu_supp s ON c.l_suppkey = s.s_suppkey
    JOIN part p ON c.l_partkey = p.p_partkey
    WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 40
      AND c.unit_cost = (
        SELECT MIN(c2.unit_cost) FROM cost c2
        WHERE c2.l_partkey = c.l_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q245(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(load(spark, sf_dir, "region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name",
                F.col("s_acctbal").cast("double").alias("s_acctbal"),
                "n_name")
    )
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE")
                & F.col("p_size").between(10, 40))
        .select("p_partkey", "p_name")
    )
    cost = (
        load(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp.select("s_suppkey")),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = (
        cost.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .drop("min_cost")
    )
    return (
        best.join(F.broadcast(part),
                  best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .select("s_acctbal", "s_name", "n_name",
                F.col("p_partkey").cast("bigint").alias("p_partkey"),
                "p_name", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                 "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q246 — the TPC-H Q9 shape (product-type profit by nation and year),
# adapted: cost basis is 0.5 * p_retailprice per unit (no partsupp
# supplycost here). Revenue and cost are accumulated as exact decimals
# in SEPARATE sums and combined as doubles outside the aggregate, so
# both engines run the identical IEEE ops. One shuffle on the group
# key; part + supplier-nation dims broadcast.
# --------------------------------------------------------------------------
@register(
    "q246_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(7,6))
                       - CAST(l.l_discount AS DECIMAL(7,6)))) AS DOUBLE)
           - 0.5 * CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))
                            * CAST(l.l_quantity AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q246(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    snation = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    one_minus_disc = (F.lit(1).cast("decimal(7,6)")
                      - F.col("l_discount").cast("decimal(7,6)"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * one_minus_disc
    cost = (F.col("p_retailprice").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(snation), li.l_suppkey == snation.s_suppkey)
        .groupBy("nation", "o_year")
        .agg((F.sum(rev).cast("double")
              - 0.5 * F.sum(cost).cast("double")).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# q247 — the TPC-H Q11 shape (important stock), adapted: per-part value
# is the decimal-exact extended-price sum shipped by ASIA suppliers;
# the HAVING compares against a scalar derived from the same filtered
# set (2x the mean per-part value — scale-free, so selectivity holds at
# any SF). The scalar is ONE row cross-joined broadcast, not a
# correlated re-scan; the fact shuffles once on l_partkey.
# --------------------------------------------------------------------------
@register(
    "q247_important_parts",
    oracle="""
    WITH v AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS part_value
      FROM lineitem l
      WHERE l.l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA')
      GROUP BY 1
    )
    SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
           part_value
    FROM v
    WHERE part_value > (SELECT 2.0 * AVG(part_value) FROM v)
    ORDER BY part_value DESC, p_partkey
    """,
)
def q247(spark: SparkSession, sf_dir: str) -> DataFrame:
    asia = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(load(spark, sf_dir, "region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey")
    )
    v = (
        load(spark, sf_dir, "lineitem")
        .join(F.broadcast(asia),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .cast("double").alias("part_value"))
        .localCheckpoint(eager=False)  # threshold + filter both read it
    )
    threshold = v.agg(
        (F.lit(2.0) * F.avg("part_value")).alias("thr"))
    return (
        v.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("thr"))
        .select(F.col("l_partkey").cast("bigint").alias("p_partkey"),
                "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


# --------------------------------------------------------------------------
# q248 — the TPC-H Q20 shape (suppliers with excess stock), adapted:
# a supplier qualifies when its all-time shipped quantity of a
# 'cold%'-named part exceeds half that part's total 1995 shipments.
# The classic nested-IN chain decorrelates into two aggregations over
# the name-filtered fact slice (per part+supplier, per part-in-1995)
# joined on l_partkey, then a semi join back to the region's suppliers
# — no correlated re-scan, each agg shuffles once on its key.
# --------------------------------------------------------------------------
@register(
    "q248_excess_stock_suppliers",
    oracle="""
    SELECT s.s_name AS s_name, n.n_name AS n_name,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (
        SELECT ps.l_suppkey
        FROM (
          SELECT l_partkey, l_suppkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                      AS DOUBLE) AS supp_qty
          FROM lineitem
          WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
          GROUP BY 1, 2) ps
        JOIN (
          SELECT l_partkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                      AS DOUBLE) AS total_qty_1995
          FROM lineitem
          WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
            AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
          GROUP BY 1) pt USING (l_partkey)
        WHERE ps.supp_qty > 0.5 * pt.total_qty_1995)
    ORDER BY s_name
    """,
)
def q248(spark: SparkSession, sf_dir: str) -> DataFrame:
    cold = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("cold%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(cold), "l_partkey", "left_semi").localCheckpoint(
        eager=False)  # both aggregations read the filtered slice
    supp_qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double").alias("supp_qty"))
    total_1995 = (
        li.filter(
            (F.col("l_shipdate")
             >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit("1996-01-01 00:00:00").cast("timestamp")))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
             .cast("double").alias("total_qty_1995"))
    )
    excess = (
        supp_qty.join(total_1995, "l_partkey")
        .filter(F.col("supp_qty") > 0.5 * F.col("total_qty_1995"))
        .select(F.col("l_suppkey").alias("s_suppkey")).distinct()
    )
    return (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(load(spark, sf_dir, "region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .join(excess, "s_suppkey", "left_semi")
        .select("s_name", "n_name",
                F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# q266 — CHI-SQUARE INDEPENDENCE + Cramér's V (lang x source): the
# association test a curation pipeline runs before stratifying on two
# attributes ("is language independent of source?"). One fact-scale
# hash agg to the contingency table; marginals and expecteds live on
# the ~100-cell table. Each cell's contribution is (N·o − r·c)² /
# (N·r·c) — one IEEE division of exact BIGINT products — emitted
# PER CELL (order-free); the χ² total and Cramér's V are 6-dp rounded
# (the repo's stddev convention) since a 100-term float sum is
# reduction-order-dependent.
# --------------------------------------------------------------------------
@register(
    "q266_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ), m AS (
      SELECT lang, source, o,
             SUM(o) OVER (PARTITION BY lang) AS r,
             SUM(o) OVER (PARTITION BY source) AS c,
             SUM(o) OVER () AS n
      FROM cells
    ), contrib AS (
      SELECT lang, source, o,
             CAST((n * o - r * c) * (n * o - r * c) AS DOUBLE)
               / (n * r * c) AS chi2_term,
             n, r, c
      FROM m
    )
    SELECT lang, source, o, chi2_term,
           round(SUM(chi2_term) OVER (), 6) AS chi2_total,
           round(sqrt((SUM(chi2_term) OVER ())
                      / (MAX(n) OVER ()
                         * least((SELECT COUNT(DISTINCT lang) - 1
                                  FROM documents),
                                 (SELECT COUNT(DISTINCT source) - 1
                                  FROM documents)))), 6) AS cramers_v
    FROM contrib
    ORDER BY lang, source
    """,
)
def q266(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("o"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wa = Window.partitionBy()
    m = cells.select(
        "lang", "source", "o",
        F.sum("o").over(wl).alias("r"),
        F.sum("o").over(ws).alias("c"),
        F.sum("o").over(wa).alias("n"))
    term = ((F.col("n") * F.col("o") - F.col("r") * F.col("c"))
            * (F.col("n") * F.col("o") - F.col("r") * F.col("c"))
            ).cast("double") / (F.col("n") * F.col("r") * F.col("c"))
    contrib = m.select("lang", "source", "o", term.alias("chi2_term"),
                       "n")
    k = docs.agg(
        (F.least(F.countDistinct("lang") - 1,
                 F.countDistinct("source") - 1)).alias("dof_min"))
    return (
        contrib.crossJoin(F.broadcast(k))
        .select(
            "lang", "source", "o", "chi2_term",
            F.round(F.sum("chi2_term").over(wa), 6).alias("chi2_total"),
            F.round(F.sqrt(F.sum("chi2_term").over(wa)
                           / (F.max("n").over(wa) * F.col("dof_min"))),
                    6).alias("cramers_v"))
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# q281 — GINI COEFFICIENT of customer spend, exact and distributed: the
# rank-weighted formula G = (2*sum(i*x_i) - (N+1)*S) / (N*S) needs a
# GLOBAL ascending rank — computed with the q262 bucketed-scan
# discipline instead of a single-task Window.orderBy: 64 fixed value-
# domain buckets (bounds from a broadcast min/max scalar) rank
# independently, cumulative bucket COUNTS provide the offsets (the
# only global window runs over the 64-row bucket table — exempted),
# and the rank-weighted sum accumulates in DECIMAL(38,0) because
# sum(i * x_i) overflows int64 at fact scale (N^2 * x_max). One
# division of exact decimal sums -> double.
# --------------------------------------------------------------------------
@register(
    "q281_gini_spend",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend
    ), s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(i * x) AS six FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) AS total_cents,
           round((2.0 * CAST(six AS DOUBLE) - (n + 1) * CAST(sx AS DOUBLE))
                 / (n * CAST(sx AS DOUBLE)), 6) AS gini
    FROM s
    """,
)
def q281(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_buckets = 64
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("x"))
    rng = spend.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    bucketed = (
        spend.crossJoin(F.broadcast(rng))
        .withColumn(
            "_b",
            F.least(
                F.lit(n_buckets - 1),
                ((F.col("x") - F.col("lo")) * n_buckets
                 / (F.col("hi") - F.col("lo") + 1)).cast("int")))
    )
    counts = bucketed.groupBy("_b").agg(F.count("*").alias("_bn"))
    wb = (Window.orderBy(F.col("_b").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_bn").over(wb), F.lit(0))).drop("_bn")
    wr = Window.partitionBy("_b").orderBy(F.col("x").asc(),
                                          F.col("o_custkey").asc())
    ranked = (
        bucketed.join(F.broadcast(offsets), "_b")
        .withColumn("i", F.row_number().over(wr) + F.col("_off"))
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("i").cast("decimal(19,0)")
              * F.col("x").cast("decimal(19,0)")).alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx").cast("double"), \
        F.col("six").cast("double")
    return s.select(
        n.cast("bigint").alias("n_customers"),
        sx.alias("total_cents"),
        F.round((F.lit(2.0) * six - (n + 1) * sx) / (n * sx), 6)
          .alias("gini"),
    )


# --------------------------------------------------------------------------
# q283 — WINSORIZED + TRIMMED statistics (the outlier-robust
# preprocessing every metrics pipeline applies before averaging):
# p05/p95 bounds in exact integer cent space via the distributed
# range-partitioned selection (two driver floats, codegen'd literal
# comparisons — no single-reducer percentile), then ONE fact-scale agg
# of pure integers (n, clipped-low/high counts, mid-range cent sum).
# Winsorized mean = (sum_mid + n_lo*lo + n_hi*hi)/n and trimmed mean =
# sum_mid/n_mid are SCALAR fixed-order IEEE ops on exact aggregates —
# no float ever enters a distributed sum, so any partitioning gives
# the same bits. Oracle shares the interpolation formula
# (quantile_cont == the module's rank = p*(n-1) rule).
# --------------------------------------------------------------------------
@register(
    "q283_winsorized_stats",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x FROM orders
    ), b AS (
      SELECT quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.95) AS hi
      FROM c
    ), agg AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS n_lo,
             SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS n_hi,
             SUM(CASE WHEN x >= lo AND x <= hi THEN x ELSE 0 END)
               AS sum_mid,
             MAX(lo) AS lo, MAX(hi) AS hi
      FROM c, b
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_lo AS BIGINT) AS n_clip_low,
           CAST(n_hi AS BIGINT) AS n_clip_high,
           round((CAST(sum_mid AS DOUBLE) + n_lo * lo + n_hi * hi)
                 / CAST(n AS DOUBLE) / 100.0, 6) AS winsorized_mean,
           round(CAST(sum_mid AS DOUBLE)
                 / CAST(n - n_lo - n_hi AS DOUBLE) / 100.0, 6)
             AS trimmed_mean
    FROM agg
    """,
)
def q283(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import exact_quantiles

    orders = load(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("x"))
    lo, hi = exact_quantiles(cents, "x", [0.05, 0.95])
    agg = cents.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("x") < lo, 1).otherwise(0)).alias("n_lo"),
        F.sum(F.when(F.col("x") > hi, 1).otherwise(0)).alias("n_hi"),
        F.sum(F.when((F.col("x") >= lo) & (F.col("x") <= hi),
                     F.col("x")).otherwise(F.lit(0))).alias("sum_mid"),
    )
    n, n_lo, n_hi = F.col("n"), F.col("n_lo"), F.col("n_hi")
    sum_mid = F.col("sum_mid").cast("double")
    return agg.select(
        n.cast("bigint").alias("n"),
        n_lo.cast("bigint").alias("n_clip_low"),
        n_hi.cast("bigint").alias("n_clip_high"),
        F.round((sum_mid + n_lo * F.lit(lo) + n_hi * F.lit(hi))
                / n.cast("double") / F.lit(100.0), 6)
          .alias("winsorized_mean"),
        F.round(sum_mid / (n - n_lo - n_hi).cast("double") / F.lit(100.0),
                6).alias("trimmed_mean"),
    )


# --------------------------------------------------------------------------
# q299 — RFM SEGMENTATION: the marketing-analytics workhorse. Per
# customer, Recency (days from last order to the dataset horizon),
# Frequency (order count), Monetary (lifetime cents). Each dimension is
# scored 1-5 against its own exact 20/40/60/80th percentile bounds —
# computed by the distributed range-partitioned selection
# (functions/quantiles.py: parallel sort + 32-row offset table + one
# Arrow pass; NO ntile, whose global ordering would funnel every
# customer through one task), embedded as four codegen'd literals per
# dimension. Cell id = 100r + 10f + m keeps the output integer-exact.
# Oracle recomputes bounds with quantile_cont — the same p*(n-1)
# interpolation lattice — and must agree on every cell count.
# --------------------------------------------------------------------------
_RFM_PS = [0.2, 0.4, 0.6, 0.8]


def _rfm_score_sql(col: str, bcols: list[str]) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col} > {b} THEN 1 ELSE 0 END)" for b in bcols)
    return f"1 + {terms}"


@register(
    "q299_rfm_segmentation",
    oracle=f"""
    WITH horizon AS (
      SELECT CAST(MAX(o_orderdate) AS DATE) AS t_end FROM orders
    ), c AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       MAX(t_end)) AS rec,
             COUNT(*) AS freq,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS mon
      FROM orders, horizon GROUP BY o_custkey
    ), b AS (
      SELECT {", ".join(
        f"quantile_cont(rec, {p}) AS r{i}, "
        f"quantile_cont(freq, {p}) AS f{i}, "
        f"quantile_cont(mon, {p}) AS m{i}"
        for i, p in enumerate(_RFM_PS))}
      FROM c
    ), scored AS (
      SELECT ({_rfm_score_sql("rec", ["r0", "r1", "r2", "r3"])}) * 100
           + ({_rfm_score_sql("freq", ["f0", "f1", "f2", "f3"])}) * 10
           + ({_rfm_score_sql("mon", ["m0", "m1", "m2", "m3"])}) AS cell,
             mon
      FROM c, b
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(mon) AS DOUBLE) / COUNT(*) / 100.0, 6)
             AS avg_monetary
    FROM scored GROUP BY cell ORDER BY cell
    """,
)
def q299(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import exact_quantiles_cols

    orders = load(spark, sf_dir, "orders")
    horizon = orders.agg(F.max(F.to_date("o_orderdate")).alias("t_end"))
    c = (
        orders.groupBy("o_custkey")
        .agg(F.max(F.to_date("o_orderdate")).alias("last_d"),
             F.count("*").alias("freq"),
             F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
             .alias("mon"))
        .crossJoin(F.broadcast(horizon))
        .select("o_custkey",
                F.datediff("t_end", "last_d").cast("bigint").alias("rec"),
                "freq", "mon")
    )
    c = c.localCheckpoint()  # selection passes + the scoring scan
    # one batched selection for all three dimensions: a single bounds
    # aggregation + shared refinement rounds instead of 3 selections
    bounds = exact_quantiles_cols(c, ["rec", "freq", "mon"], _RFM_PS)

    def score(dim: str):
        s = F.lit(1)
        for b in bounds[dim]:
            s = s + (F.col(dim) > F.lit(b)).cast("int")
        return s

    cell = (score("rec") * 100 + score("freq") * 10
            + score("mon")).cast("bigint")
    return (
        c.select(cell.alias("cell"), "mon")
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_customers"),
             F.round(F.sum("mon").cast("double") / F.count("*")
                     / F.lit(100.0), 6).alias("avg_monetary"))
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# q312 — HIERARCHY SUBTREE ROLLUP (BOM / category-tree aggregation):
# parts form a deterministic forest (parent = partkey // 7, roots where
# that hits 0) and every node reports the sales-cents TOTAL and node
# COUNT of its whole subtree. The engine materializes (node, ancestor)
# pairs level-by-level: frontier_{k+1} = frontier_k JOIN parent-edges —
# a FUNCTIONAL graph, so each frontier row is unique (one ancestor per
# distance, no dedup shuffle) and the closure has exactly sum(depth)
# rows, built by a FIXED unrolled 10 rounds (covers 7^10 ≈ 282M keys;
# deeper domains switch to pointer doubling, q302). Rollup = one hash
# agg of the pair table joined to per-part sales. Oracle: recursive
# CTE over the same edges.
# --------------------------------------------------------------------------
_TREE_ROUNDS = 10


@register(
    "q312_tree_rollup",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT p.p_partkey AS u,
             COALESCE(s.cents, 0) AS cents
      FROM part p LEFT JOIN (
        SELECT l_partkey,
               SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem GROUP BY 1) s ON s.l_partkey = p.p_partkey
    ), anc AS (
      SELECT u, u AS a FROM v
      UNION ALL
      SELECT anc.u, anc.a // 7 AS a FROM anc WHERE anc.a // 7 >= 1
    )
    SELECT a AS partkey,
           CAST(COUNT(*) AS BIGINT) AS n_subtree,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM anc JOIN v USING (u)
    GROUP BY a ORDER BY partkey
    """,
)
def q312(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("u"))
    sales = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("u"))
        .agg(F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
             .alias("cents"))
    )
    v = part.join(sales, "u", "left").select(
        "u", F.coalesce("cents", F.lit(0)).alias("cents"))
    edges = part.select(
        "u", (F.col("u") / 7).cast("bigint").alias("p")).filter(
        F.col("p") >= 1)
    anc = part.select("u", F.col("u").alias("a"))
    frontier = edges.select("u", F.col("p").alias("a"))
    up = edges.select(F.col("u").alias("a"), F.col("p").alias("a2"))
    for _ in range(_TREE_ROUNDS):
        anc = anc.unionByName(frontier)
        frontier = (frontier.join(up, "a")
                    .select("u", F.col("a2").alias("a")))
    return (
        anc.join(v, "u")
        .groupBy(F.col("a").alias("partkey"))
        .agg(F.count("*").cast("bigint").alias("n_subtree"),
             F.sum("cents").cast("bigint").alias("subtree_cents"))
        .orderBy("partkey")
    )


# --------------------------------------------------------------------------
# q314 — BITMAP-INDEX DISTINCT (the roaring-bitmap mechanism in pure
# SQL): active customers per nation compress into int64 chunks
# (chunk = custkey // 63, mask = bit_or(1 << custkey % 63); 63 bits
# per chunk because DuckDB's checked shift rejects 1 << 63) — a
# shrinking agg whose state is ONE int64 per chunk however many fact
# rows hit it. Per-nation distinct = sum(bit_count(mask)); the UNION
# across nations 0-9 is answered from the BITMAPS ALONE by a second
# bit_or over chunk — the whole point of bitmap indexes: set algebra
# without rescanning facts. Exact integers end to end; the oracle
# recomputes both levels the same way.
# --------------------------------------------------------------------------
@register(
    "q314_bitmap_distinct",
    oracle="""
    WITH f AS (
      SELECT c_nationkey AS nat, c_custkey // 63 AS chunk,
             bit_or(CAST(1 AS BIGINT) << CAST(c_custkey % 63 AS INT))
               AS mask
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), per_nation AS (
      SELECT nat, SUM(bit_count(mask)) AS n_active FROM f GROUP BY nat
    ), unioned AS (
      SELECT SUM(bit_count(mask2)) AS n_union FROM (
        SELECT chunk, bit_or(mask) AS mask2 FROM f
        WHERE nat < 10 GROUP BY chunk)
    )
    SELECT CAST(nat AS BIGINT) AS nat,
           CAST(n_active AS BIGINT) AS n_active,
           CAST((SELECT n_union FROM unioned) AS BIGINT) AS n_union_0_9
    FROM per_nation ORDER BY nat
    """,
)
def q314(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    f = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nat"),
                 (F.col("c_custkey") / 63).cast("bigint").alias("chunk"))
        .agg(F.bit_or(
            # pyspark's shiftleft() only takes a literal shift — go
            # through the SQL expression for a column shift amount
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(c_custkey % 63 AS INT))")).alias("mask"))
    )
    f = f.localCheckpoint()  # both levels read the bitmap table
    per_nation = f.groupBy("nat").agg(
        F.sum(F.bit_count("mask")).alias("n_active"))
    unioned = (
        f.filter(F.col("nat") < 10)
        .groupBy("chunk").agg(F.bit_or("mask").alias("mask2"))
        .agg(F.sum(F.bit_count("mask2")).alias("n_union"))
    )
    return (
        per_nation.crossJoin(F.broadcast(unioned))
        .select(F.col("nat").cast("bigint").alias("nat"),
                F.col("n_active").cast("bigint").alias("n_active"),
                F.col("n_union").cast("bigint").alias("n_union_0_9"))
        .orderBy("nat")
    )


# --------------------------------------------------------------------------
# q315 — TIME-WEIGHTED AVERAGE (TWAP — the metric ops and finance ask
# for when sampling is irregular): per user, each event's value holds
# until the next event; the average weights each value by its holding
# interval. dt comes from lead(ts) over the per-user ordered window
# (partitioned — no global sort) in EXACT epoch microseconds; value is
# a deterministic integer function of the event; the weighted sum
# accumulates as DECIMAL(38,0) so no float enters a distributed agg.
# The last event of each user is excluded (no holding interval) — the
# oracle applies the identical rule.
# --------------------------------------------------------------------------
@register(
    "q315_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, event_id % 97 AS v,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(t_next - t) AS BIGINT) AS total_us,
           round(CAST(SUM(CAST(v AS DECIMAL(38,0)) * (t_next - t))
                      AS DOUBLE)
                 / CAST(SUM(t_next - t) AS DOUBLE), 6) AS twap
    FROM e WHERE t_next IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def q315(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"),
                                              F.col("event_id"))
    t = (F.col("ts").cast("double") * 1_000_000).cast("bigint")
    e = ev.select(
        "user_id", t.alias("t"),
        (F.col("event_id") % 97).alias("v"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_intervals"),
             F.sum(dt).cast("bigint").alias("total_us"),
             F.round(F.sum(F.col("v").cast("decimal(38,0)") * dt)
                     .cast("double") / F.sum(dt).cast("double"), 6)
             .alias("twap"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q317 — BUSINESS-DAY LAG (the ops-SLA metric): weekdays between order
# date and ship date, in CLOSED FORM — no calendar table, no per-day
# explode. Weekday comes from pure epoch-day arithmetic
# (dow = (epoch_days + 4) % 7, anchored on 1970-01-01 = Thursday;
# engine date-part conventions disagree on week start, integer math
# does not). lag = floor(gap/7)*5 + sum over the <= 6 remainder days
# of an is-weekday CASE — all exact integers on both engines. Output:
# histogram of business-day lags.
# --------------------------------------------------------------------------
def _bizdays_sql(d1_days: str, d2_days: str) -> str:
    """SQL expression: weekdays in [d1, d2) from epoch-day ints."""
    gap = f"({d2_days} - {d1_days})"
    dow1 = f"(({d1_days} + 4) % 7)"  # 0 = Sunday
    rem_terms = " + ".join(
        f"(CASE WHEN ({gap} % 7) > {i} AND (({dow1} + {i}) % 7) NOT IN (0, 6)"
        " THEN 1 ELSE 0 END)"
        for i in range(7)
    )
    return f"(({gap} // 7) * 5 + {rem_terms})"


@register(
    "q317_business_day_lag",
    oracle=f"""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS d1,
             date_diff('day', DATE '1970-01-01',
                       CAST(l_shipdate AS DATE)) AS d2
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT CAST({_bizdays_sql('d1', 'd2')} AS BIGINT) AS biz_days,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM d WHERE d2 >= d1
    GROUP BY 1 ORDER BY biz_days
    """,
)
def q317(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey",
                                                  "o_orderdate")
    epoch = F.lit("1970-01-01").cast("date")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.datediff(F.to_date("o_orderdate"), epoch).alias("d1"),
        F.datediff(F.to_date("l_shipdate"), epoch).alias("d2"))
    gap = F.col("d2") - F.col("d1")
    dow1 = (F.col("d1") + 4) % 7
    rem = gap % 7
    extra = None
    for i in range(7):
        t = F.when((rem > i) & (~((dow1 + i) % 7).isin(0, 6)), 1
                   ).otherwise(0)
        extra = t if extra is None else extra + t
    biz = (F.floor(gap / 7) * 5 + extra).cast("bigint")
    return (
        j.filter(F.col("d2") >= F.col("d1"))
        .groupBy(biz.alias("biz_days"))
        .agg(F.count("*").cast("bigint").alias("n_lineitems"))
        .orderBy("biz_days")
    )


# --------------------------------------------------------------------------
# q318 — CMS JOIN-SIZE ESTIMATION (the inner-product property of
# count-min sketches, Cormode & Muthukrishnan 2005 §4.3): the size of
# A ⋈ B on a key is sum_k fA(k)*fB(k), and min over depths of the
# sketch-row dot products estimates it WITHOUT touching the join — the
# cardinality-estimator trick a query optimizer runs before picking a
# plan. A = lineitem keyed by l_suppkey; B = the returned-items subset.
# Both sketches reuse q90's engine-portable md5+LCG hashes, the dot
# products meet in an equi-join on (depth, col), products accumulate in
# DECIMAL(38,0), and the exact truth is one group-count join. The
# estimate is provably >= exact (never under) — the oracle checks both
# numbers and the ratio.
# --------------------------------------------------------------------------
_CMS_D, _CMS_W, _CMS_SEED = 5, 2048, 7


def _cms_sketch_sql(table_expr: str, value_expr: str) -> str:
    from ..functions.hashing import P31, md5_int64_sql, minhash_coeffs

    coeffs = minhash_coeffs(_CMS_D, seed=_CMS_SEED)
    dvals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    h = f"({md5_int64_sql(f'CAST({value_expr} AS VARCHAR)')} % {P31})"
    return f"""(
      SELECT dd.d AS d, (({h} * dd.a + dd.b) % {P31}) % {_CMS_W} AS col,
             COUNT(*) AS cnt
      FROM {table_expr} CROSS JOIN (VALUES {dvals}) dd(d, a, b)
      GROUP BY 1, 2
    )"""


@register(
    "q318_cms_join_estimate",
    oracle=f"""
    WITH ska AS {_cms_sketch_sql("lineitem", "l_suppkey")},
    skb AS {_cms_sketch_sql(
        "(SELECT * FROM lineitem WHERE l_returnflag = 'R')", "l_suppkey")},
    est AS (
      SELECT MIN(dp) AS est_size FROM (
        SELECT a.d, SUM(CAST(a.cnt AS DECIMAL(19,0))
                        * CAST(b.cnt AS DECIMAL(19,0))) AS dp
        FROM ska a JOIN skb b ON a.d = b.d AND a.col = b.col
        GROUP BY a.d)
    ), truth AS (
      SELECT SUM(CAST(a.n AS DECIMAL(19,0))
                 * CAST(b.n AS DECIMAL(19,0))) AS exact_size
      FROM (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1) a
      JOIN (SELECT l_suppkey, COUNT(*) AS n FROM lineitem
            WHERE l_returnflag = 'R' GROUP BY 1) b USING (l_suppkey)
    )
    SELECT CAST(est_size AS BIGINT) AS est_size,
           CAST(exact_size AS BIGINT) AS exact_size,
           round(CAST(est_size AS DOUBLE) / CAST(exact_size AS DOUBLE), 6)
             AS overcount_ratio
    FROM est, truth
    """,
)
def q318(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketches import count_min_sketch

    li = load(spark, sf_dir, "lineitem")
    returns = li.filter(F.col("l_returnflag") == "R")
    ska = count_min_sketch(li, "l_suppkey", depth=_CMS_D, width=_CMS_W,
                           seed=_CMS_SEED)
    skb = count_min_sketch(returns, "l_suppkey", depth=_CMS_D,
                           width=_CMS_W, seed=_CMS_SEED)
    est = (
        ska.join(skb.select(F.col("d").alias("d2"),
                            F.col("col").alias("col2"),
                            F.col("cnt").alias("cnt2")),
                 (F.col("d") == F.col("d2")) & (F.col("col") == F.col("col2")))
        .groupBy("d")
        .agg(F.sum(F.col("cnt").cast("decimal(19,0)")
                   * F.col("cnt2").cast("decimal(19,0)")).alias("dp"))
        .agg(F.min("dp").alias("est_size"))
    )
    ca = li.groupBy("l_suppkey").agg(F.count("*").alias("n"))
    cb = returns.groupBy("l_suppkey").agg(F.count("*").alias("n2"))
    truth = (
        ca.join(cb.select(F.col("l_suppkey"), "n2"), "l_suppkey")
        .agg(F.sum(F.col("n").cast("decimal(19,0)")
                   * F.col("n2").cast("decimal(19,0)")).alias("exact_size"))
    )
    return est.crossJoin(F.broadcast(truth)).select(
        F.col("est_size").cast("bigint").alias("est_size"),
        F.col("exact_size").cast("bigint").alias("exact_size"),
        F.round(F.col("est_size").cast("double")
                / F.col("exact_size").cast("double"), 6)
        .alias("overcount_ratio"))


# --------------------------------------------------------------------------
# q319 — GAINS TABLE / DECILE LIFT (the model-eval deliverable every
# targeting model ships with): customers ranked by a deterministic
# integer score (acctbal cents + a custkey hash-noise term — correlated
# with the label so the lift is real), cut into deciles against exact
# 10..90th percentile bounds from the distributed range-partitioned
# selection (NO ntile global sort), then per-decile capture and
# cumulative gain. The only global window runs over the 10-row decile
# table (q288's exemption class). label = acctbal > 0; every count is
# exact, ratios are single divisions rounded 6.
# --------------------------------------------------------------------------
_GAIN_PS = [i / 10.0 for i in range(1, 10)]


@register(
    "q319_gains_table",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(c_acctbal * 100) AS BIGINT)
             + (c_custkey * 2654435761) % 997 AS score,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS pos
      FROM customer
    ), b AS (
      SELECT {", ".join(f"quantile_cont(score, {p}) AS b{i}"
                        for i, p in enumerate(_GAIN_PS))}
      FROM s
    ), d AS (
      SELECT (10 - ({" + ".join(
          f"(CASE WHEN score > b{i} THEN 1 ELSE 0 END)"
          for i in range(9))})) AS decile,
             pos
      FROM s, b
    ), g AS (
      SELECT decile, COUNT(*) AS n, SUM(pos) AS n_pos FROM d GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
           round(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                 / (SELECT SUM(n_pos) FROM g), 6) AS cum_capture
    FROM g ORDER BY decile
    """,
)
def q319(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import exact_quantiles

    cust = load(spark, sf_dir, "customer")
    s = cust.select(
        (F.floor(F.col("c_acctbal") * 100).cast("bigint")
         + (F.col("c_custkey") * 2654435761) % 997).alias("score"),
        (F.col("c_acctbal") > 0).cast("int").alias("pos"))
    s = s.localCheckpoint()  # selection passes + the scoring scan
    bounds = exact_quantiles(s, "score", _GAIN_PS)
    above = None
    for b in bounds:
        t = (F.col("score") > F.lit(b)).cast("int")
        above = t if above is None else above + t
    g = (
        s.select((10 - above).alias("decile"), "pos")
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.sum("pos").alias("n_pos"))
    )
    tot = g.agg(F.sum("n_pos").alias("tot_pos"))
    wc = (Window.orderBy(F.col("decile").asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
            .alias("pos_rate"),
            F.round(F.sum("n_pos").over(wc).cast("double")
                    / F.col("tot_pos"), 6).alias("cum_capture"))
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q332 — ISOTONIC CALIBRATION (PAVA fit): the monotone-regression
# calibrator (sklearn's IsotonicRegression) over 20 score bins of the
# q319 score/label pair. Instead of the sequential pool-adjacent-
# violators loop, the fit uses the CLOSED-FORM minimax characterization
#   iso(k) = max_{i<=k} min_{j>=max(i,k)} mean(y[i..j])
# — every interval mean comes from exact integer prefix sums over the
# 20-row bin table (dimension-scale; the only windows run there), the
# 400 interval means materialize once, and two small joins take the
# min/max. Every mean is ONE double division of exact integers, so both
# engines compare identical values. Weighted by bin counts, as PAVA
# requires.
# --------------------------------------------------------------------------
_ISO_BINS = 20


@register(
    "q332_isotonic_calibration",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(c_acctbal * 100) AS BIGINT)
             + (c_custkey * 2654435761) % 997 AS score,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS pos
      FROM customer
    ), rng AS (
      SELECT MIN(score) AS lo, MAX(score) AS hi FROM s
    ), b AS (
      SELECT LEAST({_ISO_BINS - 1},
                   (score - lo) * {_ISO_BINS} // (hi - lo + 1)) AS bin,
             pos
      FROM s, rng
    ), bins AS (
      SELECT bin, COUNT(*) AS n, SUM(pos) AS p FROM b GROUP BY bin
    ), cum AS (
      SELECT bin, n, p,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(p) OVER (ORDER BY bin) AS cp
      FROM bins
    ), iv AS (
      SELECT i.bin AS i, j.bin AS j,
             CAST(j.cp - i.cp + i.p AS DOUBLE)
               / (j.cn - i.cn + i.n) AS m
      FROM cum i JOIN cum j ON i.bin <= j.bin
    ), mn AS (
      -- min over j >= max(i, k) of mean(i..j), for every (i, k<=?) pair
      SELECT iv.i, k.bin AS k, MIN(iv.m) AS v
      FROM iv JOIN cum k ON iv.j >= k.bin AND iv.i <= k.bin
      GROUP BY iv.i, k.bin
    ), iso AS (
      SELECT k, MAX(v) AS iso_rate FROM mn GROUP BY k
    )
    SELECT CAST(bins.bin AS BIGINT) AS bin,
           CAST(bins.n AS BIGINT) AS n,
           round(CAST(bins.p AS DOUBLE) / bins.n, 6) AS raw_rate,
           round(iso.iso_rate, 6) AS iso_rate
    FROM bins JOIN iso ON iso.k = bins.bin
    ORDER BY bin
    """,
)
def q332(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    s = cust.select(
        (F.floor(F.col("c_acctbal") * 100).cast("bigint")
         + (F.col("c_custkey") * 2654435761) % 997).alias("score"),
        (F.col("c_acctbal") > 0).cast("int").alias("pos"))
    rng = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    b = s.crossJoin(F.broadcast(rng)).select(
        F.least(F.lit(_ISO_BINS - 1),
                F.floor((F.col("score") - F.col("lo")) * _ISO_BINS
                        / (F.col("hi") - F.col("lo") + 1))).alias("bin"),
        "pos")
    bins = b.groupBy("bin").agg(F.count("*").alias("n"),
                                F.sum("pos").alias("p"))
    wc = (Window.orderBy(F.col("bin").asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = bins.select("bin", "n", "p",
                      F.sum("n").over(wc).alias("cn"),
                      F.sum("p").over(wc).alias("cp")).localCheckpoint()
    ci = cum.select(F.col("bin").alias("i"), F.col("n").alias("ni"),
                    F.col("p").alias("pi"), F.col("cn").alias("cni"),
                    F.col("cp").alias("cpi"))
    cj = cum.select(F.col("bin").alias("j"), F.col("cn").alias("cnj"),
                    F.col("cp").alias("cpj"))
    iv = (ci.join(cj, F.col("i") <= F.col("j"))
          .select("i", "j",
                  ((F.col("cpj") - F.col("cpi") + F.col("pi"))
                   .cast("double")
                   / (F.col("cnj") - F.col("cni") + F.col("ni")))
                  .alias("m")))
    ks = cum.select(F.col("bin").alias("k"))
    mn = (iv.join(F.broadcast(ks),
                  (F.col("j") >= F.col("k")) & (F.col("i") <= F.col("k")))
          .groupBy("i", "k").agg(F.min("m").alias("v")))
    iso = mn.groupBy("k").agg(F.max("v").alias("iso_rate"))
    return (
        bins.join(iso, bins.bin == iso.k)
        .select(F.col("bin").cast("bigint").alias("bin"),
                F.col("n").cast("bigint").alias("n"),
                F.round(F.col("p").cast("double") / F.col("n"), 6)
                .alias("raw_rate"),
                F.round("iso_rate", 6).alias("iso_rate"))
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q341 — APRIORI FREQUENT ITEMSETS (level-wise candidate generation,
# Agrawal & Srikant 1994): baskets = the distinct MANUFACTURER set per
# order (substr(p_brand,1,7) — TPC-H encodes the 5 manufacturers in
# the brand prefix; a bounded item domain keeps candidate joins tiny
# however many orders), L1 = frequent brands, L2 = frequent pairs from
# an ordered within-basket self-join of L1 survivors, L3 = triples
# generated by joining L2 with L1-filtered items — each level one
# equi-join + count + threshold, the downward-closure prune expressed
# relationally. Support threshold scales with the basket count
# (10% of baskets, a broadcast scalar). Exact integer supports.
# --------------------------------------------------------------------------
@register(
    "q341_apriori_itemsets",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS oid, substr(p.p_brand, 1, 7) AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), nb AS (
      SELECT COUNT(DISTINCT oid) AS n FROM b
    ), minsup AS (
      SELECT GREATEST(2, n // 10) AS s FROM nb
    ), l1 AS (
      SELECT item FROM b, minsup GROUP BY item, s HAVING COUNT(*) >= s
    ), bf AS (
      SELECT b.oid, b.item FROM b JOIN l1 USING (item)
    ), l2 AS (
      SELECT a.item AS i1, c.item AS i2, COUNT(*) AS support
      FROM bf a JOIN bf c ON c.oid = a.oid AND a.item < c.item, minsup
      GROUP BY a.item, c.item, s HAVING COUNT(*) >= s
    ), l3 AS (
      SELECT l2.i1, l2.i2, d.item AS i3, COUNT(*) AS support
      FROM l2
      JOIN bf a ON a.item = l2.i1
      JOIN bf c ON c.oid = a.oid AND c.item = l2.i2
      JOIN bf d ON d.oid = a.oid AND d.item > l2.i2, minsup
      GROUP BY l2.i1, l2.i2, d.item, s HAVING COUNT(*) >= s
    )
    SELECT 2 AS level, i1, i2, CAST(NULL AS VARCHAR) AS i3,
           CAST(support AS BIGINT) AS support
    FROM l2
    UNION ALL
    SELECT 3, i1, i2, i3, CAST(support AS BIGINT) FROM l3
    ORDER BY level, i1, i2, i3 NULLS FIRST
    """,
)
def q341(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # The item domain is tiny by construction (substr(p_brand, 1, 7) has
    # 5 values), so each basket is a <= 5-item sorted array. Enumerating
    # 2- and 3-combinations INSIDE the array (one explode) replaces the
    # former three oid self-joins (each an Exchange of the full basket
    # table): the only basket-scale shuffle left is the groupBy(oid)
    # (collect_set dedups, standing in for the former DISTINCT pass),
    # and the combo counts partial-aggregate map-side onto a <= 20-key
    # domain, so the count Exchange ships ~nothing. Counting is
    # identical: a basket containing {x, y(, z)} contributes exactly one
    # (x<y(<z)) combination row, which is what COUNT(*) over the
    # distinct-item self-joins counted. The former L1 pre-filter is
    # dropped as a no-op on the OUTPUT by the apriori property itself:
    # support(itemset) <= support(any member item), so every item of a
    # reported (support >= s) pair/triple is frequent automatically.
    baskets = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("oid"),
                F.substring("p_brand", 1, 7).alias("item"))
        .groupBy("oid")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .localCheckpoint(eager=False)  # read by minsup + the combo pass
    )
    # 1-row scalar: baskets has one row per distinct oid
    minsup = baskets.agg(F.greatest(
        F.lit(2), (F.count("*") / 10).cast("bigint")).alias("s"))
    combos = F.expr("""
      concat(
        flatten(transform(items, (x, i) ->
          transform(slice(items, i + 2, greatest(size(items) - i - 1, 0)),
                    y -> struct(2 AS level, x AS i1, y AS i2,
                                CAST(NULL AS STRING) AS i3)))),
        flatten(flatten(transform(items, (x, i) ->
          transform(slice(items, i + 2, greatest(size(items) - i - 1, 0)),
                    (y, j) ->
            transform(slice(items, i + j + 3,
                            greatest(size(items) - i - j - 2, 0)),
                      z -> struct(3 AS level, x AS i1, y AS i2, z AS i3)))))))
    """)
    # frequent itemsets at both levels from ONE pass; the table is value-
    # domain-sized (<= C(5,2) + C(5,3) rows) and is read twice below.
    counts = (
        baskets.select(F.explode(combos).alias("c"))
        .groupBy("c.level", "c.i1", "c.i2", "c.i3")
        .agg(F.count("*").alias("support"))
        .crossJoin(F.broadcast(minsup))
        .filter(F.col("support") >= F.col("s"))
        .select("level", "i1", "i2", "i3",
                F.col("support").cast("bigint").alias("support"))
        .localCheckpoint(eager=False)
    )
    out2 = counts.filter(F.col("level") == 2)
    # apriori gate: a level-3 itemset only reports when its (i1, i2)
    # pair is itself frequent (the oracle's FROM l2 join)
    out3 = counts.filter(F.col("level") == 3).join(
        F.broadcast(out2.select("i1", "i2")), ["i1", "i2"]
    ).select("level", "i1", "i2", "i3", "support")
    return out2.unionByName(out3).orderBy(
        "level", "i1", "i2", F.col("i3").asc_nulls_first())


# --------------------------------------------------------------------------
# q345 — DELETE-A-GROUP JACKKNIFE (the survey-statistics variance
# estimator production A/B platforms use when units cluster): the mean
# order value's standard error estimated by leaving each NATION out in
# turn. Every replicate theta_i = (S - s_i) / (N - n_i) is a scalar
# over EXACT integer cent/count aggregates (one shrinking per-nation
# agg + one broadcast total), so the only float work is 25 fixed-order
# scalars and the final (g-1)/g moment — rounded 6.
# --------------------------------------------------------------------------
@register(
    "q345_jackknife",
    oracle="""
    WITH per_g AS (
      SELECT c_nationkey AS g,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ), tot AS (
      SELECT SUM(s) AS st, SUM(n) AS nt, COUNT(*) AS ng FROM per_g
    ), reps AS (
      SELECT CAST(st - s AS DOUBLE) / (nt - n) AS theta, ng
      FROM per_g, tot
    ), m AS (
      SELECT AVG(theta) AS theta_bar, MAX(ng) AS ng FROM reps
    )
    SELECT CAST(m.ng AS BIGINT) AS n_groups,
           round(CAST(tot.st AS DOUBLE) / tot.nt / 100.0, 6)
             AS mean_cents,
           round(sqrt((m.ng - 1.0) / m.ng
                      * SUM((reps.theta - m.theta_bar)
                            * (reps.theta - m.theta_bar))) / 100.0, 6)
             AS jk_se
    FROM reps, m, tot
    GROUP BY m.ng, tot.st, tot.nt
    """,
)
def q345(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per_g = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("g"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
             .alias("s"),
             F.count("*").alias("n"))
    )
    per_g = per_g.localCheckpoint()  # totals + replicates read it
    tot = per_g.agg(F.sum("s").alias("st"), F.sum("n").alias("nt"),
                    F.count("*").alias("ng"))
    reps = (per_g.crossJoin(F.broadcast(tot))
            .select(((F.col("st") - F.col("s")).cast("double")
                     / (F.col("nt") - F.col("n"))).alias("theta"),
                    "ng", "st", "nt")
            .localCheckpoint(eager=False))  # mean + SE pass both read it
    m = reps.agg(F.avg("theta").alias("theta_bar"))
    return (
        reps.crossJoin(F.broadcast(m))
        .agg(
            F.max("ng").cast("bigint").alias("n_groups"),
            F.round(F.max(F.col("st").cast("double") / F.col("nt"))
                    / F.lit(100.0), 6).alias("mean_cents"),
            F.round(F.sqrt((F.max("ng") - F.lit(1.0)) / F.max("ng")
                           * F.sum((F.col("theta") - F.col("theta_bar"))
                                   * (F.col("theta")
                                      - F.col("theta_bar"))))
                    / F.lit(100.0), 6).alias("jk_se"))
    )


# --------------------------------------------------------------------------
# q346 — NEYMAN OPTIMAL ALLOCATION (survey sampling design): given a
# budget of 1000 interviews, allocate per market segment proportionally
# to N_h * S_h (stratum size x stddev) — the textbook minimum-variance
# design. Per-stratum size/mean/stddev come from one shrinking agg of
# exact integer cents (population stddev via the decimal co-moment
# trick, no float enters a distributed sum); the allocation share is a
# fixed-order scalar against the broadcast total. floor() keeps the
# allocations integers on both engines.
# --------------------------------------------------------------------------
_NEYMAN_BUDGET = 1000


@register(
    "q346_neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT c_mktsegment AS seg, COUNT(*) AS n,
             SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS sx,
             SUM(CAST(floor(c_acctbal * 100) AS DECIMAL(19,0))
                 * CAST(floor(c_acctbal * 100) AS DECIMAL(19,0))) AS sxx
      FROM customer GROUP BY 1
    ), d AS (
      SELECT seg, n,
             sqrt((CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * sx / n) / n) AS sd
      FROM s
    ), tot AS (
      SELECT SUM(n * sd) AS w FROM d
    )
    SELECT seg, CAST(n AS BIGINT) AS n_stratum,
           round(sd / 100.0, 6) AS stddev,
           CAST(floor({_NEYMAN_BUDGET} * (n * sd) / tot.w) AS BIGINT)
             AS n_alloc
    FROM d, tot ORDER BY seg
    """,
)
def q346(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100).cast("bigint")
    d19 = F.floor(F.col("c_acctbal") * 100).cast("decimal(19,0)")
    s = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(d19 * d19).alias("sxx"))
    sd = F.sqrt((F.col("sxx").cast("double")
                 - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
                / F.col("n"))
    d = s.select("seg", "n", sd.alias("sd"))
    tot = d.agg(F.sum(F.col("n") * F.col("sd")).alias("w"))
    return (
        d.crossJoin(F.broadcast(tot))
        .select("seg", F.col("n").cast("bigint").alias("n_stratum"),
                F.round(F.col("sd") / 100.0, 6).alias("stddev"),
                F.floor(_NEYMAN_BUDGET * (F.col("n") * F.col("sd"))
                        / F.col("w")).cast("bigint").alias("n_alloc"))
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# q347 — DIFFERENCE-IN-DIFFERENCES (the causal-inference workhorse
# CUPED doesn't replace): treatment = odd custkeys, intervention at a
# fixed calendar date; DiD = (T_post - T_pre) - (C_post - C_pre) over
# mean order values. All four cell means are ratios of EXACT integer
# cent/count aggregates from ONE shrinking (arm, period) agg; the
# estimate and the pooled SE are fixed-order scalars, rounded 6.
# --------------------------------------------------------------------------
_DID_SPLIT = "1998-01-01"


@register(
    "q347_diff_in_diff",
    oracle=f"""
    WITH cell AS (
      SELECT o_custkey % 2 AS arm,
             CASE WHEN o_orderdate >= TIMESTAMP '{_DID_SPLIT} 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             COUNT(*) AS n,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sx,
             SUM(CAST(floor(o_totalprice * 100) AS DECIMAL(19,0))
                 * CAST(floor(o_totalprice * 100) AS DECIMAL(19,0)))
               AS sxx
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT arm, post, n,
             CAST(sx AS DOUBLE) / n AS mu,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               / (n - 1) / n AS var_mu
      FROM cell
    )
    SELECT
      round((MAX(CASE WHEN arm = 1 AND post = 1 THEN mu END)
             - MAX(CASE WHEN arm = 1 AND post = 0 THEN mu END)
             - MAX(CASE WHEN arm = 0 AND post = 1 THEN mu END)
             + MAX(CASE WHEN arm = 0 AND post = 0 THEN mu END))
            / 100.0, 6) AS did_cents,
      round(sqrt(SUM(var_mu)) / 100.0, 6) AS se_cents,
      CAST(SUM(n) AS BIGINT) AS n_orders
    FROM m
    """,
)
def q347(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    split = F.lit(_DID_SPLIT + " 00:00:00").cast("timestamp")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    d19 = F.floor(F.col("o_totalprice") * 100).cast("decimal(19,0)")
    cell = orders.groupBy(
        (F.col("o_custkey") % 2).alias("arm"),
        (F.col("o_orderdate") >= split).cast("int").alias("post")).agg(
        F.count("*").alias("n"), F.sum(cents).alias("sx"),
        F.sum(d19 * d19).alias("sxx"))
    mu = F.col("sx").cast("double") / F.col("n")
    var_mu = ((F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
              / (F.col("n") - 1) / F.col("n"))
    m = cell.select("arm", "post", "n", mu.alias("mu"),
                    var_mu.alias("var_mu"))

    def pick(a, p):
        return F.max(F.when((F.col("arm") == a) & (F.col("post") == p),
                            F.col("mu")))

    return m.agg(
        F.round((pick(1, 1) - pick(1, 0) - pick(0, 1) + pick(0, 0))
                / F.lit(100.0), 6).alias("did_cents"),
        F.round(F.sqrt(F.sum("var_mu")) / F.lit(100.0), 6)
        .alias("se_cents"),
        F.sum("n").cast("bigint").alias("n_orders"))


# --------------------------------------------------------------------------
# q350 — EXACT HIGHER MOMENTS (skewness g1 = m3/m2^1.5, excess
# kurtosis g2 = m4/m2^2 - 3): the distribution-shape profile that
# decides whether a metric needs winsorizing (q283). Central moments
# expand algebraically into RAW power sums S1..S4, each accumulated as
# DECIMAL(38,0) over exact cents (cents^4 * rows stays under 10^38 at
# warehouse scale) — no float enters a distributed sum, and the final
# m2/m3/m4 algebra is fixed-order scalar IEEE, rounded 6.
# --------------------------------------------------------------------------
@register(
    "q350_higher_moments",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x FROM orders
    ), s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS s1,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
               AS s2,
             SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                      AS DECIMAL(25,0)) * x) AS s3,
             SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                      AS DECIMAL(25,0))
                 * CAST(CAST(x AS DECIMAL(19,0))
                        * CAST(x AS DECIMAL(19,0)) AS DECIMAL(25,0)))
               AS s4
      FROM c
    ), m AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               AS m2,
             CAST(s3 AS DOUBLE) / n
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
               + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) AS m3,
             CAST(s4 AS DOUBLE) / n
               - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
               + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s2 AS DOUBLE) / n)
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               AS m4
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(mu / 100.0, 6) AS mean,
           round(sqrt(m2) / 100.0, 6) AS stddev_pop,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
    FROM m
    """,
)
def q350(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    x = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    c = orders.select(x.alias("x"))
    x19 = F.col("x").cast("decimal(19,0)")
    x2 = (x19 * x19).cast("decimal(25,0)")
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.sum(x19 * x19).alias("s2"),
        F.sum(x2 * F.col("x")).alias("s3"),
        F.sum(x2 * x2).alias("s4"))
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    e3 = F.col("s3").cast("double") / n
    e4 = F.col("s4").cast("double") / n
    m2 = e2 - mu * mu
    m3 = e3 - 3 * mu * e2 + 2 * mu * mu * mu
    m4 = e4 - 4 * mu * e3 + 6 * mu * mu * e2 - 3 * mu * mu * mu * mu
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(mu / F.lit(100.0), 6).alias("mean"),
        F.round(F.sqrt(m2) / F.lit(100.0), 6).alias("stddev_pop"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("excess_kurtosis"))


# --------------------------------------------------------------------------
# q349 — ROLLING-ORIGIN FORECAST BACKTEST (the time-series eval
# protocol behind q289's MASE): from every origin day o, the drift
# forecaster predicts y(o+h) = y(o) + h*(y(o) - y(o-7))/7 for horizons
# 1..7, and the backtest reports per-horizon MAE over ALL origins.
# Exactness: the /7 never happens — errors live in SEVENTHS
# (err7 = |7*y(o+h) - 7*y(o) - h*(y(o)-y(o-7))|, all integer cents)
# and divide once at the end. The series shrinks to one row per day;
# lookback/lookahead are EQUI-JOINS on day arithmetic (gap-safe — a
# ROWS-frame lag would silently step over missing days), fanned out by
# a broadcast 7-row horizon table.
# --------------------------------------------------------------------------
@register(
    "q349_rolling_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ), h AS (SELECT unnest(range(1, 8)) AS h), j AS (
      SELECT h.h,
             abs(7 * yt.y - 7 * o.y - h.h * (o.y - m7.y)) AS err7
      FROM daily o
      JOIN daily m7 ON m7.d = o.d - 7
      CROSS JOIN h
      JOIN daily yt ON yt.d = o.d + h.h
    )
    SELECT CAST(h AS BIGINT) AS horizon,
           CAST(COUNT(*) AS BIGINT) AS n_origins,
           round(CAST(SUM(err7) AS DOUBLE) / (7.0 * COUNT(*)) / 100.0, 6)
             AS mae
    FROM j GROUP BY h ORDER BY horizon
    """,
)
def q349(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        # TIMESTAMP_NTZ refuses numeric casts; TIMESTAMP is a no-op on
        # the instant under the pinned-UTC session
        F.floor(F.col("o_orderdate").cast("timestamp").cast("double")
                / 86400).cast("bigint").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("y"))
    daily = daily.localCheckpoint(eager=False)  # three self-joins
    hs = spark.range(1, 8).select(F.col("id").cast("bigint").alias("h"))
    m7 = daily.select((F.col("d") + 7).alias("d"),
                      F.col("y").alias("y_m7"))
    o = daily.join(m7, "d").crossJoin(F.broadcast(hs))
    yt = daily.select(F.col("d").alias("dt"), F.col("y").alias("y_t"))
    j = o.join(yt, F.col("dt") == F.col("d") + F.col("h"))
    err7 = F.abs(7 * F.col("y_t") - 7 * F.col("y")
                 - F.col("h") * (F.col("y") - F.col("y_m7")))
    return (
        j.select("h", err7.alias("err7"))
        .groupBy(F.col("h").alias("horizon"))
        .agg(F.count("*").cast("bigint").alias("n_origins"),
             F.round(F.sum("err7").cast("double")
                     / (F.lit(7.0) * F.count("*")) / F.lit(100.0), 6)
             .alias("mae"))
        .select(F.col("horizon").cast("bigint").alias("horizon"),
                "n_origins", "mae")
        .orderBy("horizon")
    )


# --------------------------------------------------------------------------
# q353 — HAAR MULTI-RESOLUTION ENERGY (the wavelet decomposition that
# localizes WHERE a time series' variance lives — daily noise vs
# weekly/monthly structure; complements q274's ACF): at scale k the
# UNNORMALIZED Haar detail of each 2^k-day block is
# left-half-sum - right-half-sum — pure integer cents, missing days
# contribute 0 on both engines by construction. Each level is ONE hash
# agg keyed by (day-anchor) // 2^k (the fact table shrinks to daily
# rows first); energies accumulate as DECIMAL(38,0) squares. Six
# levels unrolled as independent UNION branches.
# --------------------------------------------------------------------------
_HAAR_LEVELS = 6


@register(
    "q353_haar_energy",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ), anch AS (
      SELECT MIN(d) AS d0 FROM daily
    ), rel AS (
      SELECT d - d0 AS i, y FROM daily, anch
    )
    {" UNION ALL ".join(f'''
    SELECT CAST({k} AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CAST(det AS DECIMAL(19,0))
                    * CAST(det AS DECIMAL(19,0))) AS DOUBLE)
             AS energy
    FROM (
      SELECT i // {1 << k} AS blk,
             SUM(CASE WHEN (i // {1 << (k - 1)}) % 2 = 0
                      THEN y ELSE -y END) AS det
      FROM rel GROUP BY 1
    )''' for k in range(1, _HAAR_LEVELS + 1))}
    ORDER BY level
    """,
)
def q353(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.floor(F.col("o_orderdate").cast("timestamp").cast("double")
                / 86400).cast("bigint").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("y"))
    anch = daily.agg(F.min("d").alias("d0"))
    rel = (daily.crossJoin(F.broadcast(anch))
           .select((F.col("d") - F.col("d0")).alias("i"), "y")
           .localCheckpoint(eager=False))  # six level aggs read it
    out = None
    for k in range(1, _HAAR_LEVELS + 1):
        half = (F.col("i") / (1 << (k - 1))).cast("bigint") % 2
        det = F.sum(F.when(half == 0, F.col("y"))
                    .otherwise(-F.col("y")))
        lvl = (
            rel.groupBy((F.col("i") / (1 << k)).cast("bigint")
                        .alias("blk"))
            .agg(det.alias("det"))
            .agg(F.lit(k).cast("bigint").alias("level"),
                 F.count("*").cast("bigint").alias("n_blocks"),
                 F.sum(F.col("det").cast("decimal(19,0)")
                       * F.col("det").cast("decimal(19,0)"))
                 .cast("double").alias("energy"))
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.orderBy("level")


# --------------------------------------------------------------------------
# q359 — COHORT LTV CURVES (the finance twin of q82's retention
# triangle): customers cohort by FIRST-ORDER month; each later order
# lands at month-index ym(order) - ym(first) (pure integer year*12 +
# month arithmetic — months_between() floats differ across engines);
# the curve is cumulative revenue-per-cohort-member over the index.
# One fact groupBy for first months, one for (cohort, index) cells,
# and the cumulation windows PARTITION BY cohort over <= the calendar
# span in months. Exact cents; one division per output row.
# --------------------------------------------------------------------------
@register(
    "q359_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS ym0
      FROM orders GROUP BY 1
    ), sizes AS (
      SELECT ym0, COUNT(*) AS n_members FROM f GROUP BY ym0
    ), cell AS (
      SELECT f.ym0,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.ym0
               AS mi,
             SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ), cum AS (
      SELECT ym0, mi,
             SUM(cents) OVER (PARTITION BY ym0 ORDER BY mi) AS cum_cents
      FROM cell
    )
    SELECT CAST(ym0 AS BIGINT) AS cohort_ym,
           CAST(mi AS BIGINT) AS month_index,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(cum_cents AS BIGINT) AS cum_cents,
           round(CAST(cum_cents AS DOUBLE) / n_members / 100.0, 6)
             AS ltv_per_member
    FROM cum JOIN sizes USING (ym0)
    WHERE mi <= 11
    ORDER BY cohort_ym, month_index
    """,
)
def q359(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    f = orders.groupBy("o_custkey").agg(F.min(ym).alias("ym0")) \
        .localCheckpoint(eager=False)  # sizes + cohort join both read it
    sizes = f.groupBy("ym0").agg(F.count("*").alias("n_members"))
    cell = (
        orders.join(f, "o_custkey")
        .groupBy("ym0", (ym - F.col("ym0")).alias("mi"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
             .alias("cents"))
    )
    wc = (Window.partitionBy("ym0").orderBy(F.col("mi").asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = cell.select("ym0", "mi",
                      F.sum("cents").over(wc).alias("cum_cents"))
    return (
        cum.join(F.broadcast(sizes), "ym0")
        .filter(F.col("mi") <= 11)
        .select(F.col("ym0").cast("bigint").alias("cohort_ym"),
                F.col("mi").cast("bigint").alias("month_index"),
                F.col("n_members").cast("bigint").alias("n_members"),
                F.col("cum_cents").cast("bigint").alias("cum_cents"),
                F.round(F.col("cum_cents").cast("double")
                        / F.col("n_members") / F.lit(100.0), 6)
                .alias("ltv_per_member"))
        .orderBy("cohort_ym", "month_index")
    )


# --------------------------------------------------------------------------
# q369 — HITS hubs & authorities (Kleinberg) over the customer->supplier
# purchase bipartite graph, TWO UNNORMALIZED POWER STEPS IN EXACT
# INTEGER ARITHMETIC: a1(s) = in-edge count, h1(c) = sum of a1 over the
# customer's edges, a2(s) = sum of h1 over the supplier's edges. The
# usual float L1 normalization per step is a per-step constant factor,
# so the unnormalized integer ranking is IDENTICAL to normalized HITS
# after two iterations — and every value is an exact int64 (bounds:
# a2 <= edges_per_supplier * edges_per_customer * max_a1 ~ 1e10 at
# sf1; a 100 TB run would lift h/a into DECIMAL(38,0), same plan).
# Plan: two groupBy aggs + two equi-joins over the edge table; the
# authority/hub tables are entity-sized and broadcast back.
# --------------------------------------------------------------------------
@register(
    "q369_hits_bipartite",
    oracle="""
    WITH e AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), a1 AS (
      SELECT s, COUNT(*) AS a FROM e GROUP BY s
    ), h1 AS (
      SELECT e.c, SUM(a1.a) AS h FROM e JOIN a1 USING (s) GROUP BY e.c
    ), a2 AS (
      SELECT e.s, SUM(h1.h) AS a FROM e JOIN h1 USING (c) GROUP BY e.s
    )
    SELECT CAST(a2.s AS BIGINT) AS suppkey,
           CAST(a1.a AS BIGINT) AS authority_1,
           CAST(a2.a AS BIGINT) AS authority_2
    FROM a2 JOIN a1 USING (s)
    ORDER BY a2.a DESC, a2.s ASC LIMIT 10
    """,
)
def q369(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    e = lineitem.select(F.col("l_orderkey").alias("ok"),
                        F.col("l_suppkey").alias("s")).join(
        orders.select(F.col("o_orderkey").alias("ok"),
                      F.col("o_custkey").alias("c")), "ok"
    ).select("c", "s").localCheckpoint(eager=False)
    a1 = e.groupBy("s").agg(F.count("*").alias("a1")).localCheckpoint(
        eager=False)  # h1 build + final join both read it
    h1 = (e.join(F.broadcast(a1), "s")
          .groupBy("c").agg(F.sum("a1").alias("h1")))
    a2 = (e.join(F.broadcast(h1), "c")
          .groupBy("s").agg(F.sum("h1").alias("a2")))
    return (
        a2.join(F.broadcast(a1), "s")
        .select(F.col("s").cast("bigint").alias("suppkey"),
                F.col("a1").cast("bigint").alias("authority_1"),
                F.col("a2").cast("bigint").alias("authority_2"))
        .orderBy(F.col("authority_2").desc(), F.col("suppkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# q456 — BITEMPORAL AS-OF: the two-axis temporal query SCD2 (q105)
# cannot answer — "what did we BELIEVE on transaction date T about the
# price VALID on date V?". A deterministic bitemporal version table is
# derived from part (three valid-time versions per part, each RECORDED
# late by a per-part lag; every 7th part gets a later CORRECTION of
# version 1), then the 2D point query picks, per part, the row with
# the latest valid_from <= V among rows with txn_day <= T, breaking
# ties by latest txn_day (the correction wins exactly when T is late
# enough to have seen it). One ROW_NUMBER window over a part-
# cardinality table — no fact-table scan. The oracle replays the
# construction and the pick in SQL.
# --------------------------------------------------------------------------
_BT_T = 330   # belief date (days since base): sees v0..v2 recs, some lags
_BT_V = 250   # validity date: v2 (valid_from 200) is the target version


@register(
    "q456_bitemporal_asof",
    oracle=f"""
    WITH versions AS (
      SELECT p_partkey, p_brand, v.v * 100 AS valid_from,
             v.v * 100 + p_partkey % 50 AS txn_day,
             round(p_retailprice * (1 + v.v * 0.1), 2) AS price
      FROM part, (SELECT unnest(generate_series(0, 2)) AS v) v
      UNION ALL
      SELECT p_partkey, p_brand, 100,
             100 + p_partkey % 50 + 60,
             round(p_retailprice * 1.1 + 5, 2)
      FROM part WHERE p_partkey % 7 = 0
    ), believed AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY p_partkey
               ORDER BY valid_from DESC, txn_day DESC) AS rk
      FROM versions
      WHERE txn_day <= {_BT_T} AND valid_from <= {_BT_V}
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN valid_from = 200 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_on_v2,
           CAST(round(SUM(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE)
             + 0.0 AS sum_price
    FROM believed WHERE rk = 1
    GROUP BY p_brand
    """,
)
def q456(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice")
    vs = spark.range(0, 3).select(F.col("id").alias("v"))
    versions = (part.crossJoin(F.broadcast(vs))
                .select(
                    "p_partkey", "p_brand",
                    (F.col("v") * 100).alias("valid_from"),
                    (F.col("v") * 100 + F.col("p_partkey") % 50)
                    .alias("txn_day"),
                    F.round(F.col("p_retailprice")
                            * (1 + F.col("v") * 0.1), 2).alias("price")))
    corrections = (part.filter(F.col("p_partkey") % 7 == 0)
                   .select(
                       "p_partkey", "p_brand",
                       F.lit(100).alias("valid_from"),
                       (F.lit(100) + F.col("p_partkey") % 50 + 60)
                       .alias("txn_day"),
                       F.round(F.col("p_retailprice") * 1.1 + 5, 2)
                       .alias("price")))
    bitemporal = versions.unionByName(corrections)
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("valid_from").desc(), F.col("txn_day").desc())
    believed = (bitemporal
                .filter((F.col("txn_day") <= _BT_T)
                        & (F.col("valid_from") <= _BT_V))
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1))
    return believed.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum((F.col("valid_from") == 200).cast("long"))
        .alias("n_on_v2"),
        (F.round(F.sum(F.col("price").cast("decimal(18,2)")), 2) + 0.0)
        .alias("sum_price"))


# --------------------------------------------------------------------------
# q457 — JOIN-CARDINALITY ESTIMATION AUDIT: the System R formula every
# cost-based optimizer plans with — |R join S| ~= |R|*|S|/max(ndv_R,
# ndv_S) — computed from exact per-key NDVs and compared against the
# TRUE join cardinality for the three workhorse equi-joins of the
# schema. The error column is the measurement a 100 TB operator reads
# before trusting a plan: FK joins with uniform keys sit near 0%, and
# skew shows up as signed error. All counts are exact integers; the
# estimate uses integer floor division in both engines.
# --------------------------------------------------------------------------
_CARD_JOINS = [
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
]


@register(
    "q457_join_card_estimate",
    oracle=f"""
    {" UNION ALL ".join(
        f'''SELECT '{name}' AS join_name,
               (SELECT COUNT(*) FROM {lt}) AS n_left,
               (SELECT COUNT(*) FROM {rt}) AS n_right,
               (SELECT COUNT(DISTINCT {lk}) FROM {lt}) AS ndv_left,
               (SELECT COUNT(DISTINCT {rk}) FROM {rt}) AS ndv_right,
               (SELECT COUNT(*) FROM {lt}) * (SELECT COUNT(*) FROM {rt})
                 // GREATEST((SELECT COUNT(DISTINCT {lk}) FROM {lt}),
                             (SELECT COUNT(DISTINCT {rk}) FROM {rt}))
                 AS est,
               (SELECT COUNT(*) FROM {lt} JOIN {rt}
                  ON {lt}.{lk} = {rt}.{rk}) AS actual'''
        for name, lt, lk, rt, rk in _CARD_JOINS)}
    """,
)
def q457(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, lt, lk, rt, rk in _CARD_JOINS:
        left = load(spark, sf_dir, lt)
        right = load(spark, sf_dir, rt)
        ls = left.agg(F.count("*").alias("n_left"),
                      F.countDistinct(lk).alias("ndv_left"))
        rs = right.agg(F.count("*").alias("n_right"),
                       F.countDistinct(rk).alias("ndv_right"))
        act = (left.join(right, left[lk] == right[rk])
               .agg(F.count("*").alias("actual")))
        leg = (ls.crossJoin(rs).crossJoin(act)
               .select(
                   F.lit(name).alias("join_name"),
                   "n_left", "n_right", "ndv_left", "ndv_right",
                   (F.col("n_left") * F.col("n_right")
                    / F.greatest("ndv_left", "ndv_right"))
                   .cast("bigint").alias("est"),
                   "actual"))
        out = leg if out is None else out.unionByName(leg)
    return out
