"""TPC-DS-style window-analytics probes.

The reference ships all 99 TPC-DS query texts (cases/tpcds/query/) but cannot
run the window-function ones — it has no window operator at all
(expr_properties.go:273-277 stub). These probes take the most
window-dependent TPC-DS shapes and re-target them at the fixture star schema,
proving the capability the reference only aspires to:

- q47 shape: moving deviation from the yearly average per brand/month, with
  lag/lead neighbours (WindowExec over a pre-aggregated series).
- q51 shape: two cumulative series full-outer-joined and compared (the
  "when does channel A overtake channel B" crossover).
- q36 shape: ROLLUP gross margin with RANK inside each grouping level
  (GROUPING() interop with windows).
- q98 shape: revenue share within class (the ratio_to_report pattern —
  partition-sum window over aggregated rows).

Determinism: all money math follows queries/common.py (exact decimal sums,
double emitted last, identical expression shape in the DuckDB oracle).
Scale shape: every window here runs over a *pre-aggregated* series (brand x
month ~ thousands of rows at any corpus size; day series ~ O(days)), so the
unpartitioned/low-cardinality windows stay metadata-sized while the raw scans
stay distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from plan_spark.catalog import table
from plan_spark.queries.common import (
    REV_SQL,
    dec,
    rev_col,
    rev_tenthc,
    ts,
    verbatim_text,
)
from plan_spark.queries.common import cents as cents_col
from plan_spark.registry import register

# ---------------------------------------------------------------------------
# q47 shape: monthly sales deviating >10% from the brand's yearly average
# ---------------------------------------------------------------------------

_TPCDS_Q47_SQL = f"""
WITH monthly AS (
  SELECT p_brand,
         year(l_shipdate)  AS yr,
         month(l_shipdate) AS mo,
         SUM({REV_SQL})    AS sum_sales_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
), win AS (
  SELECT p_brand, yr, mo,
         CAST(sum_sales_dec AS DOUBLE) AS sum_sales,
         CAST(SUM(sum_sales_dec) OVER (PARTITION BY p_brand, yr) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY p_brand, yr) AS avg_monthly,
         CAST(LAG(sum_sales_dec)  OVER (PARTITION BY p_brand ORDER BY yr, mo)
              AS DOUBLE) AS prev_sales,
         CAST(LEAD(sum_sales_dec) OVER (PARTITION BY p_brand ORDER BY yr, mo)
              AS DOUBLE) AS next_sales
  FROM monthly
)
SELECT p_brand, yr, mo, sum_sales, avg_monthly, prev_sales, next_sales
FROM win
WHERE avg_monthly > 0
  AND ABS(sum_sales - avg_monthly) / avg_monthly > 0.1
ORDER BY p_brand, yr, mo
"""


@register("tpcds_q47", oracle=_TPCDS_Q47_SQL, tags=("tpcds", "window"))
def tpcds_q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q47 shape (cases/tpcds/query/q47.sql — unrunnable by the
    reference): per-brand monthly sales that deviate >10% from that brand's
    yearly monthly average, with lag/lead month context.

    One shuffle for the monthly aggregate, then two windows over the ~25x84
    brand-month series (re-sorted within the same partitioning). At 100 TB the
    aggregate output is still brand x month — the windows never see raw rows.
    """
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            "p_brand",
            F.year("l_shipdate").alias("yr"),
            F.month("l_shipdate").alias("mo"),
        )
        .agg(F.sum(rev_col()).alias("sum_sales_dec"))
    )
    w_year = Window.partitionBy("p_brand", "yr")
    w_seq = Window.partitionBy("p_brand").orderBy("yr", "mo")
    win = monthly.select(
        "p_brand",
        "yr",
        "mo",
        F.col("sum_sales_dec").cast("double").alias("sum_sales"),
        (
            F.sum("sum_sales_dec").over(w_year).cast("double")
            / F.count(F.lit(1)).over(w_year)
        ).alias("avg_monthly"),
        F.lag("sum_sales_dec").over(w_seq).cast("double").alias("prev_sales"),
        F.lead("sum_sales_dec").over(w_seq).cast("double").alias("next_sales"),
    )
    return (
        win.filter(
            (F.col("avg_monthly") > 0)
            & (F.abs(F.col("sum_sales") - F.col("avg_monthly")) / F.col("avg_monthly") > 0.1)
        )
        .orderBy("p_brand", "yr", "mo")
    )


# ---------------------------------------------------------------------------
# q51 shape: cumulative crossover between two channels
# ---------------------------------------------------------------------------

_TPCDS_Q51_SQL = """
WITH hi AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS daily
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  GROUP BY 1
), lo AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS daily
  FROM orders WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
  GROUP BY 1
), joined AS (
  SELECT COALESCE(hi.day, lo.day) AS day,
         COALESCE(hi.daily, CAST(0 AS DECIMAL(18,2))) AS hi_daily,
         COALESCE(lo.daily, CAST(0 AS DECIMAL(18,2))) AS lo_daily
  FROM hi FULL OUTER JOIN lo ON hi.day = lo.day
), cum AS (
  SELECT day,
         CAST(SUM(hi_daily) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS hi_cum,
         CAST(SUM(lo_daily) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS lo_cum
  FROM joined
)
SELECT day, hi_cum, lo_cum
FROM cum
WHERE hi_cum > lo_cum
ORDER BY day
"""


@register("tpcds_q51", oracle=_TPCDS_Q51_SQL, tags=("tpcds", "window"))
def tpcds_q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape (cases/tpcds/query/q51.sql): cumulative revenue of the
    urgent channel vs the low-priority channel, full-outer-joined per day,
    reporting days where the urgent channel is cumulatively ahead.

    Both channels aggregate to O(days) rows before the join and windows; the
    unpartitioned cumulative window therefore sees the day series only (same
    adjudicated shape as w_lag). ~2,400 days even at 100 TB.
    """
    ords = table(spark, sf_dir, "orders")
    day = F.date_trunc("DAY", "o_orderdate").alias("day")

    # The two channels are disjoint priority slices of the SAME fact: the
    # full-outer join of two per-day aggregates is ONE conditional aggregate
    # over the union slice (a day appears iff either channel has a row —
    # exactly the outer join's row set; each channel's missing side
    # coalesces to 0 exactly like the sum of an empty CASE branch).
    # 2 fact scans + join exchange -> 1 scan, no join (guide §2.4, the
    # q83/q88 single-pass discipline).
    pri = F.col("o_orderpriority")
    hi_p = ["1-URGENT", "2-HIGH"]
    lo_p = ["4-NOT SPECIFIED", "5-LOW"]
    zero = F.lit(0).cast("decimal(18,2)")
    joined = (
        ords.filter(pri.isin(hi_p + lo_p))
        .groupBy(day)
        .agg(
            F.sum(F.when(pri.isin(hi_p), dec("o_totalprice"))).alias("hi_raw"),
            F.sum(F.when(pri.isin(lo_p), dec("o_totalprice"))).alias("lo_raw"),
        )
        .select(
            "day",
            F.coalesce(F.col("hi_raw"), zero).alias("hi_daily"),
            F.coalesce(F.col("lo_raw"), zero).alias("lo_daily"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = joined.select(
        "day",
        F.sum("hi_daily").over(w).cast("double").alias("hi_cum"),
        F.sum("lo_daily").over(w).cast("double").alias("lo_cum"),
    )
    return cum.filter(F.col("hi_cum") > F.col("lo_cum")).orderBy("day")


# ---------------------------------------------------------------------------
# q36 shape: ROLLUP gross margin + RANK within each grouping level
# ---------------------------------------------------------------------------

_TPCDS_Q36_SQL = f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag) + GROUPING(l_linestatus) AS lochierarchy,
         GROUPING(l_linestatus) AS g_status,
         CAST(SUM({REV_SQL}) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS gross_margin
  FROM lineitem
  GROUP BY ROLLUP(l_returnflag, l_linestatus)
)
SELECT l_returnflag, l_linestatus, lochierarchy, gross_margin,
       RANK() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN g_status = 1 THEN l_returnflag END
         ORDER BY gross_margin ASC
       ) AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC, l_returnflag, l_linestatus
"""


@register("tpcds_q36", oracle=_TPCDS_Q36_SQL, tags=("tpcds", "window", "rollup"))
def tpcds_q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36 shape (cases/tpcds/query/q36.sql): gross margin over
    ROLLUP(returnflag, linestatus) with RANK inside each hierarchy level
    (GROUPING() feeding a window partition key).

    Scale shape: the fact table is reduced ONCE by a plain (flag, status)
    aggregate — map-side combined, 6 output rows — and ROLLUP's Expand runs
    over those partials, not over raw rows (a naive rollup pays Expand x
    #grouping-sets over the whole fact table: 3x the scan CPU here, 3x 100 TB
    at scale). Decimal sums re-aggregate associatively, so the margins are
    bit-identical to the direct rollup the oracle runs. Rank window runs
    over the ~10-row rollup output.
    """
    li = table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(rev_col()).alias("rev"),
        F.sum(dec("l_extendedprice")).alias("price"),
    )
    agg = (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") + F.grouping("l_linestatus")).alias(
                "lochierarchy"
            ),
            F.grouping("l_linestatus").alias("g_status"),
            (F.sum("rev").cast("double") / F.sum("price").cast("double")).alias(
                "gross_margin"
            ),
        )
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("g_status") == 1, F.col("l_returnflag")),
    ).orderBy(F.asc("gross_margin"))
    return (
        agg.select(
            "l_returnflag",
            "l_linestatus",
            "lochierarchy",
            "gross_margin",
            F.rank().over(w).alias("rank_within_parent"),
        )
        .orderBy(F.desc("lochierarchy"), "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q98 shape: revenue share within class (ratio_to_report)
# ---------------------------------------------------------------------------

_TPCDS_Q98_SQL = f"""
WITH rev AS (
  SELECT p_type, p_brand, SUM({REV_SQL}) AS rev_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT p_type, p_brand,
       CAST(rev_dec AS DOUBLE) AS item_rev,
       CAST(rev_dec AS DOUBLE) * 100
         / CAST(SUM(rev_dec) OVER (PARTITION BY p_type) AS DOUBLE)
         AS revenue_ratio
FROM rev
ORDER BY p_type, revenue_ratio DESC, p_brand
"""


@register("tpcds_q98", oracle=_TPCDS_Q98_SQL, tags=("tpcds", "window"))
def tpcds_q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q98 shape (cases/tpcds/query/q98.sql — unrunnable by the
    reference): each brand's revenue share within its part type, the
    ratio_to_report window pattern.

    One shuffle for the (type, brand) aggregate; the partition-sum window
    runs over the aggregated brand rows (bounded by the catalog size at any
    corpus scale), never over raw lineitems. Share = double ratio of exact
    decimal sums, identical expression shape on both engines."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(F.sum(rev_col()).alias("rev_dec"))
    )
    w = Window.partitionBy("p_type")
    return (
        rev.select(
            "p_type",
            "p_brand",
            F.col("rev_dec").cast("double").alias("item_rev"),
            (
                F.col("rev_dec").cast("double") * 100
                / F.sum("rev_dec").over(w).cast("double")
            ).alias("revenue_ratio"),
        )
        .orderBy("p_type", F.desc("revenue_ratio"), "p_brand")
    )


# ---------------------------------------------------------------------------
# q67 shape: top-N rows per category over a 3-level ROLLUP hierarchy
# ---------------------------------------------------------------------------

_TPCDS_Q67_SQL = f"""
WITH base AS (
  SELECT p_type, p_brand, month(l_shipdate) AS mo, SUM({REV_SQL}) AS rev_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
), agg AS (
  SELECT p_type, p_brand, mo,
         GROUPING(p_type) + GROUPING(p_brand) + GROUPING(mo) AS lvl,
         CAST(SUM(rev_dec) AS DOUBLE) AS sumsales
  FROM base
  GROUP BY ROLLUP(p_type, p_brand, mo)
), ranked AS (
  SELECT p_type, p_brand, mo, lvl, sumsales,
         RANK() OVER (PARTITION BY p_type
                      ORDER BY sumsales DESC) AS rk
  FROM agg
)
SELECT p_type, p_brand, mo, lvl, sumsales, rk
FROM ranked WHERE rk <= 5
ORDER BY p_type NULLS FIRST, rk, p_brand NULLS FIRST, mo NULLS FIRST
"""


@register("tpcds_q67", oracle=_TPCDS_Q67_SQL, tags=("tpcds", "window", "rollup"))
def tpcds_q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape (cases/tpcds/query/q67.sql — unrunnable by the
    reference: no window operator): revenue over the full
    ROLLUP(type, brand, month) hierarchy, then the top-5 rows of every
    type partition by RANK (rolled-up rows compete inside the NULL-type
    partition, exactly q67's "which aggregates dominate the category").

    Scale shape: the fact table reduces ONCE to (type, brand, month)
    partials — map-side combined, ~1.5k rows — and ROLLUP's Expand + the
    rank window run over partials, never over raw lineitem rows (q36's
    pre-aggregation discipline, one level deeper). NULL orderings are
    pinned explicitly because Spark and DuckDB disagree on the default."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    base = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_type", "p_brand", F.month("l_shipdate").alias("mo"))
        .agg(F.sum(rev_col()).alias("rev_dec"))
    )
    agg = base.rollup("p_type", "p_brand", "mo").agg(
        (
            F.grouping("p_type") + F.grouping("p_brand") + F.grouping("mo")
        ).alias("lvl"),
        F.sum("rev_dec").cast("double").alias("sumsales"),
    )
    w = Window.partitionBy("p_type").orderBy(F.desc("sumsales"))
    return (
        agg.select(
            "p_type", "p_brand", "mo", "lvl", "sumsales",
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .orderBy(
            F.asc_nulls_first("p_type"),
            F.asc("rk"),
            F.asc_nulls_first("p_brand"),
            F.asc_nulls_first("mo"),
        )
    )


# ---------------------------------------------------------------------------
# q59 shape: year-over-year comparison via self-join of an aggregated series
# ---------------------------------------------------------------------------

_TPCDS_Q59_SQL = f"""
WITH monthly AS (
  SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mo,
         SUM({REV_SQL}) AS rev_dec
  FROM lineitem
  GROUP BY 1, 2
)
SELECT cur.yr, cur.mo,
       CAST(cur.rev_dec AS DOUBLE) AS rev,
       CAST(prev.rev_dec AS DOUBLE) AS rev_prev_yr,
       CAST(cur.rev_dec AS DOUBLE) / CAST(prev.rev_dec AS DOUBLE)
         AS yoy_ratio
FROM monthly cur
JOIN monthly prev ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo
ORDER BY cur.yr, cur.mo
"""


@register("tpcds_q59", oracle=_TPCDS_Q59_SQL, tags=("tpcds", "selfjoin"))
def tpcds_q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape (cases/tpcds/query/q59.sql): this year's monthly
    revenue joined to the same month one year earlier — the
    series-self-join comparison pattern (q59 does it weekly per store).

    Scale shape: the fact table reduces once to an O(months) series; the
    self-join is series-sized (broadcast at any corpus scale), so the
    year-over-year report costs one scan + one metadata-sized join."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mo")
    ).agg(F.sum(rev_col()).alias("rev_dec"))
    # The yr-1 self-join IS a lag within each month's year series: Catalyst
    # cannot merge the two differently-aliased aggregate subtrees, so the
    # join form scanned + aggregated the fact TWICE. LAG over (month, yr)
    # with an exact prev_yr == yr-1 guard (a gap year must not match, same
    # as the equi-join) reproduces the inner join's row set from ONE scan —
    # 2 fact scans + broadcast join -> 1 scan + an O(months) window
    # (guide §2.4: window over the aggregate replaces the self-join).
    w = Window.partitionBy("mo").orderBy("yr")
    return (
        monthly.select(
            "yr",
            "mo",
            "rev_dec",
            F.lag("yr").over(w).alias("prev_yr"),
            F.lag("rev_dec").over(w).alias("prev_dec"),
        )
        .filter(F.col("prev_yr") == F.col("yr") - 1)
        .select(
            "yr",
            "mo",
            F.col("rev_dec").cast("double").alias("rev"),
            F.col("prev_dec").cast("double").alias("rev_prev_yr"),
            (
                F.col("rev_dec").cast("double") / F.col("prev_dec").cast("double")
            ).alias("yoy_ratio"),
        )
        .orderBy("yr", "mo")
    )


# ---------------------------------------------------------------------------
# q89 shape: months deviating from the brand's centered rolling average
# ---------------------------------------------------------------------------

_TPCDS_Q89_SQL = f"""
WITH monthly AS (
  SELECT p_brand,
         year(l_shipdate)  AS yr,
         month(l_shipdate) AS mo,
         SUM({REV_SQL})    AS sum_sales_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
), win AS (
  SELECT p_brand, yr, mo,
         CAST(sum_sales_dec AS DOUBLE) AS sum_sales,
         CAST(SUM(sum_sales_dec) OVER (PARTITION BY p_brand ORDER BY yr, mo
                ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY p_brand ORDER BY yr, mo
                ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS roll_avg
  FROM monthly
)
SELECT p_brand, yr, mo, sum_sales, roll_avg
FROM win
WHERE roll_avg > 0 AND ABS(sum_sales - roll_avg) / roll_avg > 0.15
ORDER BY p_brand, yr, mo
"""


@register("tpcds_q89", oracle=_TPCDS_Q89_SQL, tags=("tpcds", "window"))
def tpcds_q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q89 shape (cases/tpcds/query/q89.sql — unrunnable by the
    reference, no window operator): months whose sales deviate >15% from the
    brand's CENTERED 3-month rolling average (ROWS 1 PRECEDING..1 FOLLOWING
    — the frame-spec variant q47's whole-partition average doesn't cover).

    Scale shape: one distributed shuffle for the monthly aggregate; the
    framed window runs over the pre-aggregated brand-month series (O(brands
    x months) at any corpus size). Exact decimal sums inside the frame,
    double emitted last — shuffle order cannot move a bit."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            "p_brand",
            F.year("l_shipdate").alias("yr"),
            F.month("l_shipdate").alias("mo"),
        )
        .agg(F.sum(rev_col()).alias("sum_sales_dec"))
    )
    w_roll = (
        Window.partitionBy("p_brand").orderBy("yr", "mo").rowsBetween(-1, 1)
    )
    win = monthly.select(
        "p_brand",
        "yr",
        "mo",
        F.col("sum_sales_dec").cast("double").alias("sum_sales"),
        (
            F.sum("sum_sales_dec").over(w_roll).cast("double")
            / F.count(F.lit(1)).over(w_roll)
        ).alias("roll_avg"),
    )
    return (
        win.filter(
            (F.col("roll_avg") > 0)
            & (F.abs(F.col("sum_sales") - F.col("roll_avg")) / F.col("roll_avg") > 0.15)
        )
        .orderBy("p_brand", "yr", "mo")
    )


# ---------------------------------------------------------------------------
# q34 shape: customers whose orders carry an item count in a target band
# ---------------------------------------------------------------------------

_TPCDS_Q34_SQL = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_items
  FROM lineitem
  GROUP BY l_orderkey
  HAVING COUNT(*) BETWEEN 6 AND 7)
SELECT c_name, c_custkey, o_orderkey, n_items
FROM per_order
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY c_name, c_custkey, o_orderkey
"""


@register("tpcds_q34", oracle=_TPCDS_Q34_SQL, tags=("tpcds", "having"))
def tpcds_q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34/q73 shape (cases/tpcds/query/q34.sql): group the fact
    table per ticket/order, HAVING-filter the count into a band, then join
    the surviving (small) group list back to its customers.

    Scale shape: the per-order count is one map-side-combined shuffle on
    the fact table's own key; the HAVING band filters BEFORE either join,
    so orders/customer only ever join against the qualifying subset. Both
    joins are PINNED sort-merge: the band-filtered group list and orders
    are each O(orders)-class — at test SF Catalyst would broadcast the
    2-column orders scan, which deadlocks at 100 TB (gated by
    test_plans.py's no-broadcast-facts sweep). The reference runs q34's
    text but this probe exercises the aggregate->filter->multi-join
    pipeline on the fixture star schema."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items").between(6, 7))
    )
    return (
        per_order.join(od.hint("merge"), per_order.l_orderkey == od.o_orderkey)
        .join(cu.hint("merge"), F.col("o_custkey") == cu.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "n_items")
        .orderBy("c_name", "c_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q88 shape: N disjoint band counts from ONE scan (conditional aggregation)
# ---------------------------------------------------------------------------

_Q88_BANDS = [(1 + 6 * i, 6 + 6 * i) for i in range(8)]  # quantity bands

_TPCDS_Q88_SQL = f"""
SELECT
  {", ".join(
    f"CAST(SUM(CASE WHEN l_quantity >= {lo} AND l_quantity <= {hi} "
    f"AND l_discount > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS band_{i}"
    for i, (lo, hi) in enumerate(_Q88_BANDS)
  )}
FROM lineitem
"""


@register("tpcds_q88", oracle=_TPCDS_Q88_SQL, tags=("tpcds", "conditional-agg"))
def tpcds_q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape (cases/tpcds/query/q88.sql): eight disjoint
    band counts produced by ONE scan with conditional aggregation — q88's
    text runs eight subqueries that naive engines execute as eight scans;
    the single-pass rewrite is the scale-correct plan (the reference ships
    the query text but would run the eight-scan form).

    Scale shape: one fact scan, one single-row aggregate (map-side
    partials, scalar shuffle). Integer counts — nothing to drift."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        *[
            F.sum(
                F.when(
                    (F.col("l_quantity") >= lo)
                    & (F.col("l_quantity") <= hi)
                    & (F.col("l_discount") > 0.02),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"band_{i}")
            for i, (lo, hi) in enumerate(_Q88_BANDS)
        ]
    )


# ---------------------------------------------------------------------------
# q74 shape: year-over-year growth compared across two channels
# ---------------------------------------------------------------------------

_TPCDS_Q74_SQL = f"""
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s96,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s97
  FROM orders
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
), w AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN {REV_SQL} END) AS DOUBLE) AS w96,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN {REV_SQL} END) AS DOUBLE) AS w97
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
)
SELECT s.o_custkey AS custkey, s96, s97, w96, w97
FROM s JOIN w ON s.o_custkey = w.o_custkey
WHERE s96 > 0 AND s97 > 0 AND w96 > 0 AND w97 > 0
  AND s97 / s96 > w97 / w96
ORDER BY custkey
LIMIT 100
"""


@register("tpcds_q74", oracle=_TPCDS_Q74_SQL, tags=("tpcds", "yoy"))
def tpcds_q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q74/q11 shape (cases/tpcds/query/query74.sql): customers whose
    year-over-year growth in one channel beats the other. q74's text builds
    a UNION ALL of per-channel year totals and self-joins it four ways; the
    scale-correct rewrite used here computes each channel's two years in ONE
    conditional aggregate (one shuffle per channel instead of a 4-way
    self-join of the union), then one custkey-co-partitioned join.

    Determinism: channel totals are exact decimal sums emitted as DOUBLE;
    the growth comparison divides those identical doubles in both engines,
    so the boundary is bit-stable. Guard rows with all four totals > 0 (the
    reference guards first-year > 0 the same way)."""
    yr = F.year("o_orderdate")
    ords = table(spark, sf_dir, "orders").filter(yr.isin(1996, 1997))
    s = ords.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, dec("o_totalprice"))).cast("double").alias("s96"),
        F.sum(F.when(yr == 1997, dec("o_totalprice"))).cast("double").alias("s97"),
    )
    li = table(spark, sf_dir, "lineitem")
    w = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == 1996, rev_col())).cast("double").alias("w96"),
            F.sum(F.when(yr == 1997, rev_col())).cast("double").alias("w97"),
        )
    )
    return (
        s.join(w, "o_custkey")
        .filter(
            (F.col("s96") > 0) & (F.col("s97") > 0)
            & (F.col("w96") > 0) & (F.col("w97") > 0)
            & (F.col("s97") / F.col("s96") > F.col("w97") / F.col("w96"))
        )
        .select(F.col("o_custkey").alias("custkey"), "s96", "s97", "w96", "w97")
        .orderBy("custkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q35 shape: OR'd correlated EXISTS (mark joins) into demographic stats
# ---------------------------------------------------------------------------

_TPCDS_Q35_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_nationkey) AS BIGINT) AS dep_sum,
       CAST(CAST(SUM(c_nationkey) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dep_avg,
       SQRT(
         CAST(COUNT(*) * CAST(SUM(c_nationkey * c_nationkey) AS BIGINT)
              - CAST(SUM(c_nationkey) AS BIGINT) * CAST(SUM(c_nationkey) AS BIGINT)
              AS DOUBLE)
         / CAST(COUNT(*) * (COUNT(*) - 1) AS DOUBLE)
       ) AS dep_stddev
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) >= 1996)
  AND (EXISTS (SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
       OR EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'))
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("tpcds_q35", oracle=_TPCDS_Q35_SQL, tags=("tpcds", "exists", "mark-join"))
def tpcds_q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q35 shape (cases/tpcds/query/query35.sql): demographic stats
    over customers passing one required EXISTS AND an OR of two more
    correlated EXISTS — the disjunctive mark-join class the reference
    handles with MARK joins (hashjoin.go). Spark-first decorrelation: ONE
    aggregate over orders computes all three existence marks per customer
    (max-of-indicator — a single scan + single shuffle replaces three
    correlated probes), then an inner join applies the mark predicate.

    Determinism: avg/stddev_samp are emitted as closed-form doubles over
    EXACT integer sums (n, sum, sum-of-squares are bigints in both engines),
    so accumulation order cannot perturb them."""
    ords = table(spark, sf_dir, "orders")
    marks = ords.groupBy("o_custkey").agg(
        F.max(F.when(F.year("o_orderdate") >= 1996, 1).otherwise(0)).alias("m_recent"),
        F.max(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)).alias("m_high"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("m_urgent"),
    )
    cust = table(spark, sf_dir, "customer")
    picked = (
        cust.join(marks, cust.c_custkey == marks.o_custkey)
        .filter(
            (F.col("m_recent") == 1)
            & ((F.col("m_high") == 1) | (F.col("m_urgent") == 1))
        )
    )
    n = F.count(F.lit(1))
    s = F.sum("c_nationkey").cast("bigint")
    ssq = F.sum(F.col("c_nationkey") * F.col("c_nationkey")).cast("bigint")
    return (
        picked.groupBy("c_mktsegment")
        .agg(
            n.cast("bigint").alias("n"),
            s.alias("dep_sum"),
            (s.cast("double") / n.cast("double")).alias("dep_avg"),
            F.sqrt(
                (n * ssq - s * s).cast("double")
                / (n * (n - F.lit(1))).cast("double")
            ).alias("dep_stddev"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q90 shape: ratio of two disjoint time-band counts from one scan
# ---------------------------------------------------------------------------

_TPCDS_Q90_SQL = """
SELECT CAST(am_cnt AS BIGINT) AS am_cnt,
       CAST(pm_cnt AS BIGINT) AS pm_cnt,
       CAST(am_cnt AS DOUBLE) / CAST(pm_cnt AS DOUBLE) AS am_pm_ratio
FROM (
  SELECT SUM(CASE WHEN hour(ts) BETWEEN 6 AND 11
                   AND event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS am_cnt,
         SUM(CASE WHEN hour(ts) BETWEEN 18 AND 23
                   AND event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS pm_cnt
  FROM events) bands
"""


@register("tpcds_q90", oracle=_TPCDS_Q90_SQL, tags=("tpcds", "conditional-agg", "ratio"))
def tpcds_q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q90 shape (cases/tpcds/query/query90.sql): the am/pm ratio —
    two disjoint time-band counts divided. q90's text runs the two bands as
    separate subqueries cross-joined for the division; the single-scan
    conditional aggregate is the scale-correct rewrite (one fact pass, one
    scalar shuffle, the division on the 1-row result). Integer counts;
    the ratio divides identical exact bigints in both engines."""
    ev = table(spark, sf_dir, "events")
    typed = F.col("event_type").isin("click", "view")
    bands = ev.agg(
        F.sum(
            F.when((F.hour("ts").between(6, 11)) & typed, 1).otherwise(0)
        ).cast("bigint").alias("am_cnt"),
        F.sum(
            F.when((F.hour("ts").between(18, 23)) & typed, 1).otherwise(0)
        ).cast("bigint").alias("pm_cnt"),
    )
    return bands.select(
        "am_cnt",
        "pm_cnt",
        (F.col("am_cnt").cast("double") / F.col("pm_cnt").cast("double")).alias(
            "am_pm_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# q11 shape: customer year-over-year growth across two channels, CASE-guarded
# ratio compare, customer attributes in the output (generalizes q74)
# ---------------------------------------------------------------------------

_TPCDS_Q11_SQL = f"""
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s_first,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s_sec
  FROM orders
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
), w AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN {REV_SQL} END) AS DOUBLE) AS w_first,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN {REV_SQL} END) AS DOUBLE) AS w_sec
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
)
SELECT c_custkey AS customer_id, c_name AS customer_name,
       c_mktsegment AS customer_segment,
       CASE WHEN w_first > 0 THEN w_sec / w_first ELSE 0.0 END AS w_growth,
       CASE WHEN s_first > 0 THEN s_sec / s_first ELSE 0.0 END AS s_growth
FROM s JOIN w ON s.o_custkey = w.o_custkey
     JOIN customer ON c_custkey = s.o_custkey
WHERE s_first > 0 AND w_first > 0
  AND CASE WHEN w_first > 0 THEN w_sec / w_first ELSE 0.0 END
    > CASE WHEN s_first > 0 THEN s_sec / s_first ELSE 0.0 END
ORDER BY customer_id
LIMIT 100
"""


@register("tpcds_q11", oracle=_TPCDS_Q11_SQL, tags=("tpcds", "yoy"))
def tpcds_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q11 shape (cases/tpcds/query/query11.sql): customers whose
    web-channel year-over-year growth beats the store channel, with the
    customer DIMENSION attributes in the output and q11's CASE-guarded
    ratio compare (first-year > 0 guards only; a missing second year keeps
    the row out through NULL comparison semantics — exactly the 4-way
    self-join's inner-join effect). q11's text UNION ALLs per-channel year
    totals and self-joins the union FOUR ways; the scale-correct rewrite
    computes each channel's two years in ONE conditional aggregate (one
    shuffle per channel), joins the two channel tables co-partitioned on
    custkey, and broadcasts the customer dimension onto the (already
    filtered, customer-count-bounded) growth rows.

    Determinism: channel totals are exact decimal sums emitted as DOUBLE;
    both engines divide identical doubles; LIMIT rides a unique total
    order (customer_id)."""
    yr = F.year("o_orderdate")
    ords = table(spark, sf_dir, "orders").filter(yr.isin(1996, 1997))
    s = ords.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, dec("o_totalprice"))).cast("double").alias("s_first"),
        F.sum(F.when(yr == 1997, dec("o_totalprice"))).cast("double").alias("s_sec"),
    )
    li = table(spark, sf_dir, "lineitem")
    w = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == 1996, rev_col())).cast("double").alias("w_first"),
            F.sum(F.when(yr == 1997, rev_col())).cast("double").alias("w_sec"),
        )
    )
    w_growth = F.when(F.col("w_first") > 0, F.col("w_sec") / F.col("w_first")).otherwise(0.0)
    s_growth = F.when(F.col("s_first") > 0, F.col("s_sec") / F.col("s_first")).otherwise(0.0)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return (
        s.join(w, "o_custkey")
        .filter((F.col("s_first") > 0) & (F.col("w_first") > 0) & (w_growth > s_growth))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("customer_segment"),
            w_growth.alias("w_growth"),
            s_growth.alias("s_growth"),
        )
        .orderBy("customer_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q23 shape: multi-CTE frequent-item + 95%-of-max best-customer composition
# ---------------------------------------------------------------------------

_TPCDS_Q23_SQL = f"""
WITH frequent_items AS (
  SELECT l_partkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY substr(p_name, 1, 10), l_partkey
  HAVING COUNT(*) > 30
), cust_sales AS (
  SELECT o_custkey, SUM({REV_SQL}) AS csales
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
), max_sales AS (
  SELECT CAST(MAX(csales) AS DOUBLE) AS cmax FROM cust_sales
), best_customers AS (
  SELECT o_custkey FROM cust_sales, max_sales
  WHERE CAST(csales AS DOUBLE) > 0.95 * cmax
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({REV_SQL}) AS DOUBLE) AS total_sales,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM frequent_items) AS n_frequent,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM best_customers) AS n_best
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 7
  AND l_partkey IN (SELECT l_partkey FROM frequent_items)
  AND o_custkey IN (SELECT o_custkey FROM best_customers)
"""


@register("tpcds_q23", oracle=_TPCDS_Q23_SQL, tags=("tpcds", "multi-cte"))
def tpcds_q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape (cases/tpcds/query/query23.sql): the multi-CTE
    composition class — (1) frequent items (grouped HAVING filter over the
    fact x item dim), (2) per-customer spend with a 95%-of-max scalar
    subquery selecting "best" customers, (3) a month's sales restricted to
    frequent items AND best customers via two IN-subqueries.

    Scale shape: each CTE reduces to a key set BEFORE touching the final
    scan — frequent items and best customers are dimension-bounded outputs
    of their own aggregates (one shuffle each), the 95% threshold is a
    1-row aggregate crossJoined (broadcast) onto the customer sums, and the
    final month scan applies both sets as semi joins (Catalyst broadcasts
    the reduced sets). No all-pairs work, no driver-side materialization.

    Determinism: spends are exact decimal sums; the threshold multiplies
    the SAME double (0.95 * cmax) in both engines; counts are integers."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    ords = table(spark, sf_dir, "orders")
    # Each CTE feeds TWO consumers (semi join + its COUNT scalar; cust_sales
    # feeds cmax + best), and Catalyst re-evaluates the whole subtree per
    # consumer — measured 7 lineitem / 5 orders scans per invocation.
    # localCheckpoint each reduced intermediate once (frequent/best are key
    # sets, cust_sales is O(customers) — all orders of magnitude smaller
    # than the fact): 7 fact scans -> 3, 5 orders scans -> 2, and every
    # CTE aggregate runs exactly once at any scale (guide §3.3/§5 —
    # materialize a reused intermediate instead of recomputing it).
    # The checkpoints are lazy: each one's last stage runs inside the
    # consumer's job instead of a job of its own (at sf0.01: 19 jobs per
    # call instead of 22, lineitem still read 3 times). Building the frame
    # is not job-free even so — under AQE, checkpointing a plan runs its
    # shuffle stages (7 jobs at sf0.01). Checkpointed blocks carry no
    # lineage: a lost executor fails the query instead of recomputing them.
    frequent = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.substring("p_name", 1, 10).alias("pfx"), "l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 30)
        .select("l_partkey")
        .localCheckpoint(eager=False)
    )
    yr = F.year("o_orderdate")
    # a 2-year orders slice is also fact-sized at corpus scale: pin shuffle
    ords_window = ords.filter(yr.isin(1996, 1997)).hint("shuffle_hash")
    cust_sales = (
        li.join(ords_window, li.l_orderkey == ords_window.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev_col()).alias("csales"))
        .localCheckpoint(eager=False)
    )
    cmax = cust_sales.agg(F.max("csales").cast("double").alias("cmax"))
    best = (
        cust_sales.crossJoin(F.broadcast(cmax))
        .filter(F.col("csales").cast("double") > 0.95 * F.col("cmax"))
        .select("o_custkey")
        .localCheckpoint(eager=False)
    )
    # the month-filtered orders slice is fact-sized at corpus scale (1/84 of
    # orders is still ~1 TB at 100 TB): pin the lineitem join to shuffle —
    # the threshold would broadcast it at test SF and deadlock on a cluster
    ords_month = ords.filter(
        (yr == 1996) & (F.month("o_orderdate") == 7)
    ).hint("shuffle_hash")
    month = (
        li.join(ords_month, li.l_orderkey == ords_month.o_orderkey)
        .join(frequent, "l_partkey", "left_semi")
        .join(best, "o_custkey", "left_semi")
    )
    totals = month.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(rev_col()).cast("double").alias("total_sales"),
    )
    nf = frequent.agg(F.count(F.lit(1)).cast("bigint").alias("n_frequent"))
    nb = best.agg(F.count(F.lit(1)).cast("bigint").alias("n_best"))
    return totals.crossJoin(F.broadcast(nf)).crossJoin(F.broadcast(nb))


# ---------------------------------------------------------------------------
# q4 shape: THREE-channel year-over-year growth (6-way self-join in the
# reference text) — the catalog channel must out-grow store AND web
# ---------------------------------------------------------------------------

_TPCDS_Q4_SQL = f"""
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s_first,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s_sec
  FROM orders
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
), lw AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN {REV_SQL} END) AS DOUBLE) AS w_first,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN {REV_SQL} END) AS DOUBLE) AS w_sec,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996 AND l_returnflag = 'R'
                       THEN {REV_SQL} END) AS DOUBLE) AS c_first,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997 AND l_returnflag = 'R'
                       THEN {REV_SQL} END) AS DOUBLE) AS c_sec
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
)
SELECT s.o_custkey AS customer_id,
       CASE WHEN s_first > 0 THEN s_sec / s_first ELSE NULL END AS s_growth,
       CASE WHEN w_first > 0 THEN w_sec / w_first ELSE NULL END AS w_growth,
       CASE WHEN c_first > 0 THEN c_sec / c_first ELSE NULL END AS c_growth
FROM s JOIN lw ON s.o_custkey = lw.o_custkey
WHERE s_first > 0 AND w_first > 0 AND c_first > 0
  AND CASE WHEN c_first > 0 THEN c_sec / c_first ELSE NULL END
    > CASE WHEN s_first > 0 THEN s_sec / s_first ELSE NULL END
  AND CASE WHEN c_first > 0 THEN c_sec / c_first ELSE NULL END
    > CASE WHEN w_first > 0 THEN w_sec / w_first ELSE NULL END
ORDER BY customer_id
LIMIT 100
"""


@register("tpcds_q4", oracle=_TPCDS_Q4_SQL, tags=("tpcds", "yoy", "3-channel"))
def tpcds_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q4 shape (cases/tpcds/query/query4.sql): customers whose
    'catalog' channel year-over-year growth beats BOTH the store and web
    channels — the 6-way year_total self-join class. The scale-correct
    rewrite needs only TWO aggregates total: the store channel's two years
    as one conditional aggregate over orders, and the web + catalog
    channels' four year-totals in ONE pass over lineitem (catalog here =
    the returned-lines slice, l_returnflag = 'R' — a genuine sub-measure
    of the same fact, like catalog_sales vs web_sales share sold items),
    then one custkey-co-partitioned join. q4's CASE ... ELSE NULL growth
    guards carry over verbatim.

    Determinism: exact decimal year-totals emitted as DOUBLE; identical
    doubles divide on both engines; LIMIT rides the unique customer_id
    order."""
    yr = F.year("o_orderdate")
    ords = table(spark, sf_dir, "orders").filter(yr.isin(1996, 1997))
    s = ords.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, dec("o_totalprice"))).cast("double").alias("s_first"),
        F.sum(F.when(yr == 1997, dec("o_totalprice"))).cast("double").alias("s_sec"),
    )
    li = table(spark, sf_dir, "lineitem")
    ret = F.col("l_returnflag") == "R"
    lw = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == 1996, rev_col())).cast("double").alias("w_first"),
            F.sum(F.when(yr == 1997, rev_col())).cast("double").alias("w_sec"),
            F.sum(F.when((yr == 1996) & ret, rev_col())).cast("double").alias("c_first"),
            F.sum(F.when((yr == 1997) & ret, rev_col())).cast("double").alias("c_sec"),
        )
    )
    g = lambda first, sec: F.when(  # noqa: E731
        F.col(first) > 0, F.col(sec) / F.col(first)
    ).otherwise(F.lit(None))
    return (
        s.join(lw, "o_custkey")
        .filter(
            (F.col("s_first") > 0) & (F.col("w_first") > 0) & (F.col("c_first") > 0)
            & (g("c_first", "c_sec") > g("s_first", "s_sec"))
            & (g("c_first", "c_sec") > g("w_first", "w_sec"))
        )
        .select(
            F.col("o_custkey").alias("customer_id"),
            g("s_first", "s_sec").alias("s_growth"),
            g("w_first", "w_sec").alias("w_growth"),
            g("c_first", "c_sec").alias("c_growth"),
        )
        .orderBy("customer_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q97 shape: channel-overlap counts from a FULL OUTER join of two DISTINCT
# (customer, item) purchase-pair sets
# ---------------------------------------------------------------------------

_TPCDS_Q97_SQL = """
WITH ss AS (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'F'
), ws AS (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'O'
)
SELECT
  CAST(SUM(CASE WHEN ss.ck IS NOT NULL AND ws.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_cnt,
  CAST(SUM(CASE WHEN ss.ck IS NOT NULL AND ws.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
  CAST(SUM(CASE WHEN ss.ck IS NULL AND ws.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS web_only
FROM ss FULL OUTER JOIN ws ON ss.ck = ws.ck AND ss.pk = ws.pk
"""


@register("tpcds_q97", oracle=_TPCDS_Q97_SQL, tags=("tpcds", "full-outer"))
def tpcds_q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q97 shape (cases/tpcds/query/query97.sql): how many
    (customer, item) purchase pairs appear in the store channel only, the
    web channel only, or both — a FULL OUTER join of two DISTINCT pair
    sets with conditional counts over the null pattern. Channels are the
    l_linestatus slices ('F' = store, 'O' = web) of the same fact.

    Scale shape: q97's text builds two DISTINCT pair sets and full-outer
    joins them — at scale that is two pair shuffles plus a third join
    shuffle over the SAME key. The scale-correct rewrite is one
    channel-flag aggregate: join the fact to orders ONCE (orderkey
    co-partitioned, shuffle_hash pinned so the fact never broadcasts),
    groupBy the (customer, item) pair computing has-store / has-web flags
    map-side, and reduce the flag pattern to the three exact BIGINT counts
    — one pair shuffle total, identical null-pattern semantics (a pair
    missing from a channel is exactly flag=0). The batch full-outer
    capability itself stays covered by tpcds_q51's series crossover."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.select("l_orderkey", "l_partkey", "l_linestatus")
        .filter(F.col("l_linestatus").isin("F", "O"))
        .join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
    )
    flags = pairs.groupBy("o_custkey", "l_partkey").agg(
        F.max(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("in_s"),
        F.max(F.when(F.col("l_linestatus") == "O", 1).otherwise(0)).alias("in_w"),
    )
    return flags.agg(
        F.sum(F.col("in_s") * F.col("in_w")).cast("bigint").alias("both_cnt"),
        F.sum(F.col("in_s") * (1 - F.col("in_w"))).cast("bigint").alias("store_only"),
        F.sum((1 - F.col("in_s")) * F.col("in_w")).cast("bigint").alias("web_only"),
    )


# ---------------------------------------------------------------------------
# q14 shape: cross-channel item INTERSECT + scalar average-sales threshold
# ---------------------------------------------------------------------------

_TPCDS_Q14_SQL = f"""
WITH cross_items AS (
  SELECT pk FROM (SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'A')
  INTERSECT
  SELECT pk FROM (SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'N')
  INTERSECT
  SELECT pk FROM (SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'R')
), item_sales AS (
  SELECT l_returnflag, l_partkey, SUM({REV_SQL}) AS s
  FROM lineitem GROUP BY 1, 2
), avg_sales AS (
  SELECT CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_sales FROM item_sales
)
SELECT p_brand,
       CAST(SUM({REV_SQL}) AS DOUBLE) AS sales,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_returnflag = 'A'
  AND l_partkey IN (SELECT pk FROM cross_items)
GROUP BY p_brand
HAVING CAST(SUM({REV_SQL}) AS DOUBLE) > (SELECT avg_sales FROM avg_sales)
ORDER BY p_brand
"""


@register("tpcds_q14", oracle=_TPCDS_Q14_SQL, tags=("tpcds", "intersect"))
def tpcds_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 shape (cases/tpcds/query/query14.sql): per-brand sales of
    'cross items' — items sold in ALL THREE channels (the INTERSECT of the
    three channels' distinct item sets) — kept only where brand sales beat
    the scalar average per-channel item-sales threshold. Channels are the
    three l_returnflag slices of the fact.

    Scale shape: the oracle's triple scan + 2-way INTERSECT collapses to a
    SINGLE fact pass — one (channel, item) aggregate feeds everything:
    cross_items is the items whose channel-count is 3 (a second, tiny
    groupBy over the first's output), avg_sales is a one-row aggregate of
    the same frame, and the per-brand store slice is a filter over the
    same frame joining broadcast cross_items (item-bounded) and the
    broadcast part dimension. The (channel, item) aggregate is persisted —
    it is item-count-sized (3 x |part|) at ANY corpus scale, and caching it
    is what actually guarantees the fact is scanned once (without it
    Catalyst column-prunes each consumer into three differently-pruned fact
    scans — measured on the fixture). No INTERSECT shuffles, one fact
    shuffle total.

    Determinism: channel-item sums are exact decimals; avg_sales and the
    HAVING compare divide/compare identical doubles on both sides."""
    li = table(spark, sf_dir, "lineitem")
    item_sales = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.sum(rev_col()).alias("s_dec"))
        .persist()
    )
    cross_items = (
        item_sales.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("nf"))
        .filter(F.col("nf") == 3)
        .select("l_partkey")
    )
    avg_sales = item_sales.agg(
        (F.sum("s_dec").cast("double") / F.count(F.lit(1))).alias("avg_sales")
    )
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    brand = (
        item_sales.filter(F.col("l_returnflag") == "A")
        .join(F.broadcast(cross_items), "l_partkey")
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum("s_dec").alias("b_dec"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
    return (
        brand.join(F.broadcast(avg_sales))
        .filter(F.col("b_dec").cast("double") > F.col("avg_sales"))
        .select(
            "p_brand",
            F.col("b_dec").cast("double").alias("sales"),
            "n_items",
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q93 shape: returns-adjusted per-customer sales (fact LEFT JOIN aggregated
# returns, CASE on the miss)
# ---------------------------------------------------------------------------

_TPCDS_Q93_SQL = f"""
WITH ret AS (
  SELECT l_orderkey AS r_ok, l_partkey AS r_pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DECIMAL(9,2)) AS ret_qty
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY 1, 2
), adj AS (
  SELECT o_custkey,
         (CAST(CAST(s.l_quantity AS DECIMAL(9,2))
               - COALESCE(r.ret_qty, CAST(0 AS DECIMAL(9,2)))
           AS DECIMAL(10,2)))
         * ({REV_SQL}) AS act_sales
  FROM lineitem s
  LEFT JOIN ret r ON s.l_orderkey = r.r_ok AND s.l_partkey = r.r_pk
  JOIN orders ON s.l_orderkey = o_orderkey
  WHERE s.l_returnflag <> 'R'
)
SELECT o_custkey, CAST(SUM(act_sales) AS DOUBLE) AS sumsales
FROM adj GROUP BY o_custkey
ORDER BY sumsales, o_custkey
LIMIT 100
"""


@register("tpcds_q93", oracle=_TPCDS_Q93_SQL, tags=("tpcds", "returns"))
def tpcds_q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape (cases/tpcds/query/query93.sql): per-customer sales
    where every sale line is adjusted by its matching return — a LEFT JOIN
    of the fact to the (aggregated) returns side with a CASE on the miss:
    quantity - returned_qty when a return exists, full quantity otherwise.
    Returns are the l_returnflag='R' slice of the same fact, matched on
    (order, item).

    Scale shape: returns aggregate once on (orderkey, partkey) — map-side
    combined — and the sales LEFT JOIN runs on the SAME key, so Catalyst
    reuses the pair exchange; the orders join is orderkey-co-partitioned
    (shuffle_hash pinned — orders is a fact, never broadcast); the final
    per-customer aggregate is the only other shuffle. No self-join of raw
    rows: the returns side is pre-reduced, which is what bounds the join
    at 100 TB.

    Determinism: adjusted quantity is exact DECIMAL(10,2); act_sales =
    adj_qty * (price * (1-disc)) stays inside decimal128 (38,6 worst
    case); the per-customer sum is decimal-exact, cast to DOUBLE once.
    LIMIT rides a total order (sumsales, then unique custkey)."""
    li = table(spark, sf_dir, "lineitem")
    q9 = F.col("l_quantity").cast("decimal(9,2)")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("l_orderkey").alias("r_ok"), F.col("l_partkey").alias("r_pk")
        )
        .agg(F.sum(q9).cast("decimal(9,2)").alias("ret_qty"))
    )
    sales = li.filter(F.col("l_returnflag") != "R")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    adj_qty = (
        q9 - F.coalesce(F.col("ret_qty"), F.lit(0).cast("decimal(9,2)"))
    ).cast("decimal(10,2)")
    adj = (
        sales.join(
            # shuffle_hash pinned: the aggregated returns side is
            # returns-count-sized — proportional to the fact, so it only
            # looks broadcastable at fixture scale
            ret.hint("shuffle_hash"),
            (sales.l_orderkey == ret.r_ok) & (sales.l_partkey == ret.r_pk),
            "left",
        )
        .join(ords.hint("shuffle_hash"), sales.l_orderkey == ords.o_orderkey)
        .select("o_custkey", (adj_qty * rev_col()).alias("act_sales"))
    )
    return (
        adj.groupBy("o_custkey")
        .agg(F.sum("act_sales").cast("double").alias("sumsales"))
        .orderBy("sumsales", "o_custkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q49 shape: worst return ratios per channel, ranked, top-N per channel
# ---------------------------------------------------------------------------

_TPCDS_Q49_SQL = f"""
WITH per AS (
  SELECT l_linestatus AS channel, l_partkey AS item,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_quantity AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS ret_qty,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tot_qty,
         SUM(CASE WHEN l_returnflag = 'R' THEN {REV_SQL}
                  ELSE CAST(0 AS DECIMAL(27,4)) END) AS ret_amt,
         SUM({REV_SQL}) AS tot_amt
  FROM lineitem
  GROUP BY 1, 2
), ranked AS (
  SELECT channel, item,
         CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE) AS qty_ratio,
         CAST(ret_amt AS DOUBLE) / CAST(tot_amt AS DOUBLE) AS amt_ratio,
         RANK() OVER (PARTITION BY channel
                      ORDER BY CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE) DESC)
           AS qty_rank,
         RANK() OVER (PARTITION BY channel
                      ORDER BY CAST(ret_amt AS DOUBLE) / CAST(tot_amt AS DOUBLE) DESC)
           AS amt_rank
  FROM per WHERE tot_qty > 0 AND tot_amt > 0
)
SELECT channel, item, qty_ratio, amt_ratio,
       CAST(qty_rank AS BIGINT) AS qty_rank, CAST(amt_rank AS BIGINT) AS amt_rank
FROM ranked
WHERE qty_rank <= 10 OR amt_rank <= 10
ORDER BY channel, item
"""


@register("tpcds_q49", oracle=_TPCDS_Q49_SQL, tags=("tpcds", "window", "returns"))
def tpcds_q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape (cases/tpcds/query/query49.sql): the worst-return
    items per channel — per-(channel, item) return ratios by quantity AND
    by amount, each RANKed within its channel, keeping items in either
    top-10. Channels are the l_linestatus slices; returns the
    l_returnflag='R' rows.

    Scale shape: the query text unions three per-channel subqueries (three
    fact scans); channel-as-a-column collapses that to ONE (channel, item)
    conditional aggregate — a single fact shuffle, map-side combined — and
    the double RANK runs over the pre-aggregated item-bounded series
    (window partitions = channels, rows per partition <= |part|). No
    Union, no repeated scan.

    Determinism: both ratios divide exact decimal sums cast to DOUBLE —
    identical doubles both engines, so RANK tie-groups are identical
    (RANK, not ROW_NUMBER: equal ratios share a rank, no arbitrary
    intra-tie order is ever exposed); final order is the unique
    (channel, item)."""
    li = table(spark, sf_dir, "lineitem")
    is_ret = F.col("l_returnflag") == "R"
    q18 = F.col("l_quantity").cast("decimal(18,2)")
    per = li.groupBy(
        F.col("l_linestatus").alias("channel"), F.col("l_partkey").alias("item")
    ).agg(
        F.sum(F.when(is_ret, q18).otherwise(F.lit(0).cast("decimal(18,2)"))).alias(
            "ret_qty"
        ),
        F.sum(q18).alias("tot_qty"),
        F.sum(
            F.when(is_ret, rev_col()).otherwise(F.lit(0).cast("decimal(27,4)"))
        ).alias("ret_amt"),
        F.sum(rev_col()).alias("tot_amt"),
    )
    qty_ratio = F.col("ret_qty").cast("double") / F.col("tot_qty").cast("double")
    amt_ratio = F.col("ret_amt").cast("double") / F.col("tot_amt").cast("double")
    ranked = (
        per.filter((F.col("tot_qty") > 0) & (F.col("tot_amt") > 0))
        .select(
            "channel",
            "item",
            qty_ratio.alias("qty_ratio"),
            amt_ratio.alias("amt_ratio"),
        )
        .withColumn(
            "qty_rank",
            F.rank()
            .over(Window.partitionBy("channel").orderBy(F.col("qty_ratio").desc()))
            .cast("bigint"),
        )
        .withColumn(
            "amt_rank",
            F.rank()
            .over(Window.partitionBy("channel").orderBy(F.col("amt_ratio").desc()))
            .cast("bigint"),
        )
    )
    return (
        ranked.filter((F.col("qty_rank") <= 10) | (F.col("amt_rank") <= 10))
        .select("channel", "item", "qty_ratio", "amt_ratio", "qty_rank", "amt_rank")
        .orderBy("channel", "item")
    )


# ---------------------------------------------------------------------------
# q17 shape: per-brand quantity statistics with a coefficient-of-variation
# filter (mean/stdev/cv over returned quantities)
# ---------------------------------------------------------------------------

_TPCDS_Q17_SQL = """
WITH s AS (
  SELECT p_brand,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS BIGINT) AS ssq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag = 'R'
  GROUP BY p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n,
       CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS qty_mean,
       SQRT(CAST(n * ssq - sq * sq AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE)) AS qty_stdev
FROM s
WHERE n >= 2
  AND 4 * n * (n * ssq - sq * sq) > (n - 1) * sq * sq
ORDER BY p_brand
"""


@register("tpcds_q17", oracle=_TPCDS_Q17_SQL, tags=("tpcds", "stats"))
def tpcds_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q17 shape (cases/tpcds/query/query17.sql): per-group quantity
    statistics — mean, sample stdev, and a coefficient-of-variation filter
    (keep groups where stdev/mean > 1/2, i.e. erratically-returned brands).

    Scale shape: one conditional aggregate over the fact (n, Σx, Σx² —
    all map-side combinable bigints) joined to the broadcast part dim; the
    stats and the CV predicate are projections over the three integers.
    Nothing re-scans, nothing sorts globally.

    Determinism: the CV filter is evaluated WITHOUT any floating point —
    stdev/mean > 1/2 is cross-multiplied to
    4·n·(n·Σx² − (Σx)²) > (n−1)·(Σx)², a pure BIGINT comparison immune to
    sqrt/division rounding at the boundary; the emitted mean/stdev are
    closed-form doubles over the same exact integers."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qi = F.col("l_quantity").cast("bigint")
    s = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(qi).cast("bigint").alias("sq"),
            F.sum(qi * qi).cast("bigint").alias("ssq"),
        )
    )
    n, sq, ssq = F.col("n"), F.col("sq"), F.col("ssq")
    return (
        s.filter(
            (n >= 2)
            & (4 * n * (n * ssq - sq * sq) > (n - F.lit(1)) * sq * sq)
        )
        .select(
            "p_brand",
            n.cast("bigint").alias("n"),
            (sq.cast("double") / n.cast("double")).alias("qty_mean"),
            F.sqrt(
                (n * ssq - sq * sq).cast("double")
                / (n * (n - F.lit(1))).cast("double")
            ).alias("qty_stdev"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q78 shape: per-customer channel sales EXCLUDING returned lines (anti join
# to the returns side) + cross-channel ratio
# ---------------------------------------------------------------------------

_TPCDS_Q78_SQL = f"""
WITH ret AS (
  SELECT DISTINCT l_orderkey AS r_ok, l_partkey AS r_pk
  FROM lineitem WHERE l_returnflag = 'R'
), clean AS (
  SELECT s.l_orderkey, s.l_linestatus, {REV_SQL} AS rev
  FROM lineitem s
  LEFT JOIN ret r ON s.l_orderkey = r.r_ok AND s.l_partkey = r.r_pk
  WHERE s.l_returnflag <> 'R' AND r.r_ok IS NULL
), per AS (
  SELECT o_custkey,
         SUM(CASE WHEN l_linestatus = 'F' THEN rev
                  ELSE CAST(0 AS DECIMAL(27,4)) END) AS f_rev,
         SUM(CASE WHEN l_linestatus = 'O' THEN rev
                  ELSE CAST(0 AS DECIMAL(27,4)) END) AS o_rev
  FROM clean JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(f_rev AS DOUBLE) AS f_rev,
       CAST(o_rev AS DOUBLE) AS o_rev,
       CAST(f_rev AS DOUBLE) / CAST(o_rev AS DOUBLE) AS fo_ratio
FROM per
WHERE f_rev > 0 AND o_rev > 0
ORDER BY fo_ratio DESC, o_custkey
LIMIT 100
"""


@register("tpcds_q78", oracle=_TPCDS_Q78_SQL, tags=("tpcds", "anti-join"))
def tpcds_q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q78 shape (cases/tpcds/query/query78.sql): per-customer
    channel revenue over NON-RETURNED lines only (the fact anti-joined to
    its returns side on (order, item)) and the cross-channel ratio,
    worst-skewed customers first.

    Scale shape: the returns side reduces to DISTINCT (order, item) pairs
    before the ANTI join (pair-bounded, not returns-row-bounded); the anti
    join and the q93-style left join share the same key discipline — the
    pair exchange on the sales side is reused by nothing else here, but
    the join itself is shuffled (shuffle_hash pinned: the pair set is
    fact-proportional). Channels fold as a conditional aggregate — one
    customer shuffle — instead of the query text's per-channel subqueries.

    Determinism: channel sums are exact decimals; the ratio is one IEEE
    division of their double casts; DESC order has the unique custkey
    tiebreak under LIMIT."""
    li = table(spark, sf_dir, "lineitem")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_ok"), F.col("l_partkey").alias("r_pk"))
        .distinct()
    )
    sales = li.filter(F.col("l_returnflag") != "R")
    clean = sales.join(
        ret.hint("shuffle_hash"),
        (sales.l_orderkey == ret.r_ok) & (sales.l_partkey == ret.r_pk),
        "left_anti",
    )
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    zero = F.lit(0).cast("decimal(27,4)")
    per = (
        clean.join(ords.hint("shuffle_hash"), clean.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(F.col("l_linestatus") == "F", rev_col()).otherwise(zero)
            ).alias("f_rev"),
            F.sum(
                F.when(F.col("l_linestatus") == "O", rev_col()).otherwise(zero)
            ).alias("o_rev"),
        )
        .filter((F.col("f_rev") > 0) & (F.col("o_rev") > 0))
    )
    return (
        per.select(
            "o_custkey",
            F.col("f_rev").cast("double").alias("f_rev"),
            F.col("o_rev").cast("double").alias("o_rev"),
            (F.col("f_rev").cast("double") / F.col("o_rev").cast("double")).alias(
                "fo_ratio"
            ),
        )
        .orderBy(F.col("fo_ratio").desc(), "o_custkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q2 shape: day-of-week revenue, week-over-week ratios (per-dow series
# self-compared at +1 week via LAG over the pre-aggregated week series)
# ---------------------------------------------------------------------------

_TPCDS_Q2_SQL = f"""
WITH wk AS (
  SELECT CAST((datediff('day', DATE '1970-01-01', l_shipdate) + 4) // 7 AS BIGINT)
           AS wk_seq,
         CAST((datediff('day', DATE '1970-01-01', l_shipdate) + 4) % 7 AS BIGINT)
           AS dow,
         SUM({REV_SQL}) AS rev_dec
  FROM lineitem
  GROUP BY 1, 2
), r AS (
  SELECT wk_seq, dow,
         CAST(rev_dec AS DOUBLE) AS rev,
         CAST(LAG(rev_dec) OVER (PARTITION BY dow ORDER BY wk_seq) AS DOUBLE)
           AS prev_rev
  FROM wk
)
SELECT wk_seq, CAST(dow AS BIGINT) AS dow, rev, prev_rev,
       rev / prev_rev AS wow_ratio
FROM r WHERE prev_rev IS NOT NULL AND prev_rev > 0
ORDER BY wk_seq, dow
"""


@register("tpcds_q2", oracle=_TPCDS_Q2_SQL, tags=("tpcds", "window"))
def tpcds_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q2 shape (cases/tpcds/query/query2.sql): day-of-week revenue
    per week, each compared against the SAME day-of-week one week earlier
    (the query text self-joins the weekly series on wk_seq+1; the
    Spark-first form is LAG over a per-dow window — no self-join, no second
    scan).

    Scale shape: one (week, dow) conditional aggregate over the fact
    (map-side combined, output is O(weeks*7) at any corpus size), then the
    LAG window over the 7-partition pre-aggregated series — metadata-sized.
    Week numbering is an epoch-day formula (not ISO weekofyear) so the
    sequence is globally monotone across year boundaries, which is what
    makes +1-week self-comparison correct at the year seam.

    Determinism: week AND day-of-week come from ONE integer epoch-day
    formula on both engines (builtin dayofweek conventions differ:
    Spark 1-7 Sun-first, DuckDB 0-6); weekly sums are exact decimals; the
    ratio is one IEEE division of their double casts; (wk_seq, dow) is a
    unique total order."""
    li = table(spark, sf_dir, "lineitem")
    # epoch days + 4 makes week boundaries land on Mondays (1970-01-01 was
    # a Thursday); the exact anchor is irrelevant as long as both engines
    # use the same integer formula
    eday = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")) + 4
    wk = (
        li.groupBy(
            F.floor(eday / 7).cast("bigint").alias("wk_seq"),
            (eday % 7).cast("bigint").alias("dow"),
        )
        .agg(F.sum(rev_col()).alias("rev_dec"))
    )
    w = Window.partitionBy("dow").orderBy("wk_seq")
    r = wk.select(
        "wk_seq",
        "dow",
        F.col("rev_dec").cast("double").alias("rev"),
        F.lag("rev_dec").over(w).cast("double").alias("prev_rev"),
    )
    return (
        r.filter(F.col("prev_rev").isNotNull() & (F.col("prev_rev") > 0))
        .select(
            "wk_seq", "dow", "rev", "prev_rev",
            (F.col("rev") / F.col("prev_rev")).alias("wow_ratio"),
        )
        .orderBy("wk_seq", "dow")
    )


# ---------------------------------------------------------------------------
# q38 shape: customers present in ALL THREE channels (INTERSECT of three
# DISTINCT customer sets, counted) — flag-pattern aggregate, zero set ops
# ---------------------------------------------------------------------------

_TPCDS_Q38_SQL = """
WITH per AS (
  SELECT o_custkey,
         MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS in_n,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS in_r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT CAST(SUM(in_a * in_n * in_r) AS BIGINT) AS all_three,
       CAST(SUM(CASE WHEN in_a + in_n + in_r = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS exactly_two,
       CAST(SUM(CASE WHEN in_a + in_n + in_r = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS exactly_one
FROM per
"""


@register("tpcds_q38", oracle=_TPCDS_Q38_SQL, tags=("tpcds", "intersect"))
def tpcds_q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q38 shape (cases/tpcds/query/query38.sql): COUNT of customers
    appearing in ALL THREE channels — the query text INTERSECTs three
    DISTINCT customer sets and counts the result (q87 is the same with
    EXCEPT; both are flag patterns here). Channels are the l_returnflag
    slices.

    Scale shape: the three DISTINCTs + two INTERSECTs (five shuffles)
    collapse to ONE per-customer flag aggregate over the orderkey-
    co-partitioned fact-orders join (shuffle_hash pinned) — a single
    customer shuffle; the flag-pattern counts (all-three / exactly-two /
    exactly-one) are one more 1-row reduction, covering the whole
    q38/q87 set-op family from the same frame. Pure BIGINT output."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per = (
        li.join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias("in_n"),
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("in_r"),
        )
    )
    three = F.col("in_a") + F.col("in_n") + F.col("in_r")
    return per.agg(
        F.sum(F.col("in_a") * F.col("in_n") * F.col("in_r"))
        .cast("bigint")
        .alias("all_three"),
        F.sum(F.when(three == 2, 1).otherwise(0)).cast("bigint").alias("exactly_two"),
        F.sum(F.when(three == 1, 1).otherwise(0)).cast("bigint").alias("exactly_one"),
    )


# ---------------------------------------------------------------------------
# q31 shape: chained quarter-over-quarter growth comparison across two
# channels per region (the six-CTE self-join class)
# ---------------------------------------------------------------------------

_CENTS_OT = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

_TPCDS_Q31_SQL = f"""
WITH per AS (
  SELECT n_name,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                   AND quarter(o_orderdate) = 1 THEN {_CENTS_OT} ELSE 0 END) AS w1,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                   AND quarter(o_orderdate) = 2 THEN {_CENTS_OT} ELSE 0 END) AS w2,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                   AND quarter(o_orderdate) = 3 THEN {_CENTS_OT} ELSE 0 END) AS w3,
         SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                   AND quarter(o_orderdate) = 1 THEN {_CENTS_OT} ELSE 0 END) AS s1,
         SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                   AND quarter(o_orderdate) = 2 THEN {_CENTS_OT} ELSE 0 END) AS s2,
         SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                   AND quarter(o_orderdate) = 3 THEN {_CENTS_OT} ELSE 0 END) AS s3
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) = 1995
  GROUP BY n_name
)
SELECT n_name,
       CAST(w2 AS DOUBLE) / CAST(w1 AS DOUBLE) AS web_q1_q2_increase,
       CAST(s2 AS DOUBLE) / CAST(s1 AS DOUBLE) AS store_q1_q2_increase,
       CAST(w3 AS DOUBLE) / CAST(w2 AS DOUBLE) AS web_q2_q3_increase,
       CAST(s3 AS DOUBLE) / CAST(s2 AS DOUBLE) AS store_q2_q3_increase
FROM per
WHERE w1 > 0 AND w2 > 0 AND s1 > 0 AND s2 > 0
  AND CAST(w2 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0))
      > CAST(s2 AS DECIMAL(18,0)) * CAST(w1 AS DECIMAL(18,0))
  AND CAST(w3 AS DECIMAL(18,0)) * CAST(s2 AS DECIMAL(18,0))
      > CAST(s3 AS DECIMAL(18,0)) * CAST(w2 AS DECIMAL(18,0))
ORDER BY n_name
"""


@register("tpcds_q31", oracle=_TPCDS_Q31_SQL, tags=("tpcds", "growth"))
def tpcds_q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q31 shape (cases/tpcds/query/query31.sql): regions where the
    web channel's quarter-over-quarter growth beat the store channel's for
    BOTH consecutive quarter pairs of 1995. Channels are the order-priority
    bands; regions are nations.

    Scale shape: the query text builds SIX CTEs (3 quarters x 2 channels)
    and joins them 6-way on the region key — six fact scans, five joins.
    Here ONE conditional aggregate computes all six cells per nation in a
    single fact pass (one custkey-co-partitioned join to customer, nation
    broadcast, one nation-keyed shuffle); the growth-chain comparison is a
    projection over the 25-row aggregate.

    Determinism: growth comparisons are cross-multiplied into exact
    DECIMAL(18,0) integer products (w2/w1 > s2/s1 <=> w2*s1 > s2*w1 for
    positive denominators) — no float at the decision boundary; the emitted
    ratios are single IEEE divisions of exact cents."""
    ords = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = cents_col("o_totalprice")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    qoy = F.quarter("o_orderdate")

    def cell(is_web: bool, q: int):
        cond = (urgent if is_web else ~urgent) & (qoy == q)
        return F.sum(F.when(cond, cents).otherwise(F.lit(0)))

    per = (
        ords.join(cust.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            cell(True, 1).alias("w1"),
            cell(True, 2).alias("w2"),
            cell(True, 3).alias("w3"),
            cell(False, 1).alias("s1"),
            cell(False, 2).alias("s2"),
            cell(False, 3).alias("s3"),
        )
    )
    d18 = "decimal(18,0)"
    w1, w2, w3 = F.col("w1"), F.col("w2"), F.col("w3")
    s1, s2, s3 = F.col("s1"), F.col("s2"), F.col("s3")
    return (
        per.filter(
            (w1 > 0) & (w2 > 0) & (s1 > 0) & (s2 > 0)
            & (w2.cast(d18) * s1.cast(d18) > s2.cast(d18) * w1.cast(d18))
            & (w3.cast(d18) * s2.cast(d18) > s3.cast(d18) * w2.cast(d18))
        )
        .select(
            "n_name",
            (w2.cast("double") / w1.cast("double")).alias("web_q1_q2_increase"),
            (s2.cast("double") / s1.cast("double")).alias("store_q1_q2_increase"),
            (w3.cast("double") / w2.cast("double")).alias("web_q2_q3_increase"),
            (s3.cast("double") / s2.cast("double")).alias("store_q2_q3_increase"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q39 shape: consecutive-period coefficient-of-variation pairs (the
# self-join-on-next-month class, collapsed to one conditional aggregate)
# ---------------------------------------------------------------------------

_TPCDS_Q39_SQL = """
WITH per AS (
  SELECT l_suppkey,
         SUM(CASE WHEN month(l_shipdate) = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN month(l_shipdate) = 1
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q1,
         SUM(CASE WHEN month(l_shipdate) = 1
                  THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  ELSE 0 END) AS qq1,
         SUM(CASE WHEN month(l_shipdate) = 2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN month(l_shipdate) = 2
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q2,
         SUM(CASE WHEN month(l_shipdate) = 2
                  THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  ELSE 0 END) AS qq2
  FROM lineitem
  WHERE year(l_shipdate) = 1995 AND month(l_shipdate) IN (1, 2)
  GROUP BY l_suppkey
)
SELECT l_suppkey,
       CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
       SQRT(CAST(n1 * qq1 - q1 * q1 AS DOUBLE) / CAST(n1 * (n1 - 1) AS DOUBLE))
         / (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS cov1,
       CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean2,
       SQRT(CAST(n2 * qq2 - q2 * q2 AS DOUBLE) / CAST(n2 * (n2 - 1) AS DOUBLE))
         / (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS cov2
FROM per
WHERE n1 >= 2 AND n2 >= 2 AND q1 > 0 AND q2 > 0
  AND 4 * n1 * (n1 * qq1 - q1 * q1) > (n1 - 1) * q1 * q1
  AND 4 * n2 * (n2 * qq2 - q2 * q2) > (n2 - 1) * q2 * q2
ORDER BY l_suppkey
"""


@register("tpcds_q39", oracle=_TPCDS_Q39_SQL, tags=("tpcds", "stats"))
def tpcds_q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q39 shape (cases/tpcds/query/query39.sql): suppliers whose
    shipped-quantity coefficient of variation exceeds 1/2 in BOTH January
    and February 1995 — the query text computes per-month stats in a CTE and
    self-joins month m with month m+1.

    Scale shape: the self-join disappears — ONE conditional aggregate
    computes both months' (n, Σx, Σx²) per supplier in a single fact pass
    (map-side-combinable bigints, one supplier shuffle); the pair filter is
    a projection.

    Determinism: cov > 1/2 is evaluated as the pure-BIGINT cross-
    multiplication 4·n·(n·Σx² − (Σx)²) > (n−1)·(Σx)² (stdev² > mean²/4,
    exact);
    emitted means/covs are closed-form doubles over the same integers with
    identical expression shape both engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1995) & (F.month("l_shipdate").isin(1, 2))
    )
    qi = F.col("l_quantity").cast("bigint")
    mo = F.month("l_shipdate")

    def m(moy: int, expr, zero=0):
        return F.sum(F.when(mo == moy, expr).otherwise(F.lit(zero)))

    per = li.groupBy("l_suppkey").agg(
        m(1, F.lit(1)).alias("n1"),
        m(1, qi).alias("q1"),
        m(1, qi * qi).alias("qq1"),
        m(2, F.lit(1)).alias("n2"),
        m(2, qi).alias("q2"),
        m(2, qi * qi).alias("qq2"),
    )
    n1, q1, qq1 = F.col("n1"), F.col("q1"), F.col("qq1")
    n2, q2, qq2 = F.col("n2"), F.col("q2"), F.col("qq2")

    def stats(n, q, qq, mean_alias: str, cov_alias: str):
        mean = q.cast("double") / n.cast("double")
        stdev = F.sqrt(
            (n * qq - q * q).cast("double") / (n * (n - F.lit(1))).cast("double")
        )
        return [mean.alias(mean_alias), (stdev / mean).alias(cov_alias)]

    return (
        per.filter(
            (n1 >= 2) & (n2 >= 2) & (q1 > 0) & (q2 > 0)
            & (4 * n1 * (n1 * qq1 - q1 * q1) > (n1 - F.lit(1)) * q1 * q1)
            & (4 * n2 * (n2 * qq2 - q2 * q2) > (n2 - F.lit(1)) * q2 * q2)
        )
        .select(
            "l_suppkey",
            *stats(n1, q1, qq1, "mean1", "cov1"),
            *stats(n2, q2, qq2, "mean2", "cov2"),
        )
        .orderBy("l_suppkey")
    )


# ---------------------------------------------------------------------------
# q58 shape: items with near-equal revenue share across all three channels
# (the three-CTE 3-way equi-join + six-way BETWEEN class)
# ---------------------------------------------------------------------------

# exact integer revenue in 1e-4-dollar units: REV_SQL carries 4 decimals, so
# *10000 is integral and the BIGINT cast never rounds
_TENTHC_REV = f"CAST({REV_SQL} * 10000 AS BIGINT)"

_TPCDS_Q58_SQL = f"""
WITH per AS (
  SELECT l_partkey,
         SUM(CASE WHEN l_returnflag = 'A' THEN {_TENTHC_REV} ELSE 0 END) AS ra,
         SUM(CASE WHEN l_returnflag = 'N' THEN {_TENTHC_REV} ELSE 0 END) AS rn,
         SUM(CASE WHEN l_returnflag = 'R' THEN {_TENTHC_REV} ELSE 0 END) AS rr
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(ra AS DOUBLE) / 10000 AS a_item_rev,
       CAST(ra AS DOUBLE) / (CAST(ra + rn + rr AS DOUBLE) / 3) * 100 AS a_dev,
       CAST(rn AS DOUBLE) / 10000 AS n_item_rev,
       CAST(rn AS DOUBLE) / (CAST(ra + rn + rr AS DOUBLE) / 3) * 100 AS n_dev,
       CAST(rr AS DOUBLE) / 10000 AS r_item_rev,
       CAST(rr AS DOUBLE) / (CAST(ra + rn + rr AS DOUBLE) / 3) * 100 AS r_dev,
       CAST(ra + rn + rr AS DOUBLE) / 30000 AS average
FROM per
WHERE ra > 0 AND rn > 0 AND rr > 0
  AND ra * 10 BETWEEN rn * 9 AND rn * 11
  AND ra * 10 BETWEEN rr * 9 AND rr * 11
  AND rn * 10 BETWEEN ra * 9 AND ra * 11
  AND rn * 10 BETWEEN rr * 9 AND rr * 11
  AND rr * 10 BETWEEN ra * 9 AND ra * 11
  AND rr * 10 BETWEEN rn * 9 AND rn * 11
ORDER BY l_partkey
"""


@register("tpcds_q58", oracle=_TPCDS_Q58_SQL, tags=("tpcds", "setratio"))
def tpcds_q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q58 shape (cases/tpcds/query/query58.sql): items whose revenue
    is within ±10% of each other channel's revenue in ALL THREE channels
    (channels = l_returnflag slices). The query text aggregates each channel
    in its own CTE and 3-way-joins them with six BETWEEN predicates.

    Scale shape: the three CTEs + two joins collapse to ONE conditional
    aggregate per item — a single fact pass, one partkey shuffle, map-side
    combinable; the six-way band test and the share-of-average projection
    run over the aggregate.

    Determinism: the ±10% bands are exact integer-cents comparisons
    (ra*10 BETWEEN rn*9 AND rn*11 — no division); emitted revenues/shares
    are single IEEE divisions of exact cents, identical shape both sides."""
    li = table(spark, sf_dir, "lineitem")
    tenthc = rev_tenthc()

    def ch(flag: str, alias: str):
        return F.sum(F.when(F.col("l_returnflag") == flag, tenthc).otherwise(F.lit(0))).alias(alias)

    per = li.groupBy("l_partkey").agg(ch("A", "ra"), ch("N", "rn"), ch("R", "rr"))
    ra, rn, rr = F.col("ra"), F.col("rn"), F.col("rr")
    tot3 = (ra + rn + rr).cast("double") / 3

    def band(x, y):
        return (x * 10 >= y * 9) & (x * 10 <= y * 11)

    return (
        per.filter(
            (ra > 0) & (rn > 0) & (rr > 0)
            & band(ra, rn) & band(ra, rr)
            & band(rn, ra) & band(rn, rr)
            & band(rr, ra) & band(rr, rn)
        )
        .select(
            "l_partkey",
            (ra.cast("double") / 10000).alias("a_item_rev"),
            (ra.cast("double") / tot3 * 100).alias("a_dev"),
            (rn.cast("double") / 10000).alias("n_item_rev"),
            (rn.cast("double") / tot3 * 100).alias("n_dev"),
            (rr.cast("double") / 10000).alias("r_item_rev"),
            (rr.cast("double") / tot3 * 100).alias("r_dev"),
            ((ra + rn + rr).cast("double") / 30000).alias("average"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# q65 shape: (store, item) pairs selling below a fraction of the store's
# average item revenue (aggregate-of-aggregate + dimension ride-along)
# ---------------------------------------------------------------------------

_TPCDS_Q65_SQL = f"""
WITH sc AS (
  SELECT l_suppkey, l_partkey, SUM({_TENTHC_REV}) AS rev
  FROM lineitem
  GROUP BY l_suppkey, l_partkey
), sb AS (
  SELECT l_suppkey, SUM(rev) AS tot, COUNT(*) AS n_items
  FROM sc GROUP BY l_suppkey
)
SELECT s_name, sc.l_partkey,
       CAST(sc.rev AS DOUBLE) / 10000 AS revenue,
       CAST(sb.tot AS DOUBLE) / CAST(sb.n_items AS DOUBLE) / 10000 AS ave
FROM sc
JOIN sb ON sc.l_suppkey = sb.l_suppkey
JOIN supplier ON sc.l_suppkey = s_suppkey
WHERE 2 * sc.rev * sb.n_items <= sb.tot
ORDER BY s_name, sc.l_partkey
"""


@register("tpcds_q65", oracle=_TPCDS_Q65_SQL, tags=("tpcds", "aggofagg"))
def tpcds_q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q65 shape (cases/tpcds/query/query65.sql): (store, item) pairs
    whose revenue is at most HALF the store's average per-item revenue, with
    the store dimension riding along (stores = suppliers, items = parts).

    Scale shape: the query text scans the fact twice (the sb subquery
    re-aggregates its own sc shape from scratch); here the per-pair
    aggregate is computed ONCE and persisted (one (supp,part) shuffle over
    the fact, one cached pass) and
    the per-store average re-aggregates the PAIR-sized output (a second,
    tiny shuffle); the store-average table is store-cardinality — broadcast
    back onto the pairs along with the supplier dim. One fact pass total.

    Determinism: the threshold is the pure-BIGINT cross-multiplication
    2·rev·n_items <= tot (rev <= 0.5·tot/n) over exact 1e-4-dollar integer units;
    emitted revenue/average are IEEE divisions of the same integers."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    tenthc = rev_tenthc()
    # persist the pair aggregate: both the output rows and the store-average
    # re-aggregation derive from it — without the persist Catalyst would
    # inline it twice and scan the fact twice (the query text's own flaw)
    sc = (
        li.groupBy("l_suppkey", "l_partkey").agg(F.sum(tenthc).alias("rev")).persist()
    )
    sb = sc.groupBy("l_suppkey").agg(
        F.sum("rev").alias("tot"), F.count(F.lit(1)).alias("n_items")
    )
    return (
        sc.join(F.broadcast(sb.withColumnRenamed("l_suppkey", "sb_suppkey")),
                F.col("l_suppkey") == F.col("sb_suppkey"))
        .filter(2 * F.col("rev") * F.col("n_items") <= F.col("tot"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_name",
            "l_partkey",
            (F.col("rev").cast("double") / 10000).alias("revenue"),
            (F.col("tot").cast("double") / F.col("n_items").cast("double") / 10000).alias("ave"),
        )
        .orderBy("s_name", "l_partkey")
    )


# ---------------------------------------------------------------------------
# q54 shape: month-m buyer cohort -> following-quarter spend -> fixed-width
# revenue-band histogram (the segmentation class)
# ---------------------------------------------------------------------------

_TPCDS_Q54_SQL = f"""
WITH cohort AS (
  SELECT DISTINCT o_custkey
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-04-01'
    AND o_orderpriority IN ('1-URGENT','2-HIGH')
), spend AS (
  SELECT o_custkey, SUM({_CENTS_OT}) AS cents
  FROM orders
  WHERE o_custkey IN (SELECT o_custkey FROM cohort)
    AND o_orderdate >= TIMESTAMP '1995-04-01'
    AND o_orderdate < TIMESTAMP '1995-10-01'
  GROUP BY o_custkey
)
SELECT CAST(cents // 500000 AS BIGINT) AS segment,
       COUNT(*) AS num_customers,
       CAST(cents // 500000 AS BIGINT) * 5000 AS segment_base
FROM spend
GROUP BY 1
ORDER BY segment
"""


@register("tpcds_q54", oracle=_TPCDS_Q54_SQL, tags=("tpcds", "cohort"))
def tpcds_q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q54 shape (cases/tpcds/query/query54.sql): customers who
    bought in the flagship quarter (urgent-priority orders, Q1 1995), their
    total spend over the following six months, segmented into $5000
    revenue bands — the cohort-then-segment histogram. (Windows sized so
    the check is non-vacuous at EVERY fixture scale, sf0.001 included.)

    Scale shape: cohort = DISTINCT custkeys of the month slice (one custkey
    shuffle); the spend window joins LEFT SEMI against the cohort on the
    same custkey partitioning (shuffle_hash pinned — both sides are fact
    slices, no broadcast of a possibly-large cohort) and the per-customer
    sum reuses that partitioning; the histogram is a band-count reduction
    over customer-sized data.

    Determinism: integer cents // 500000 band arithmetic — no floats
    anywhere."""
    ords = table(spark, sf_dir, "orders")
    cents = cents_col("o_totalprice")
    cohort = (
        ords.filter(
            (F.col("o_orderdate") >= ts("1995-01-01"))
            & (F.col("o_orderdate") < ts("1995-04-01"))
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .select("o_custkey")
        .distinct()
    )
    window = ords.filter(
        (F.col("o_orderdate") >= ts("1995-04-01"))
        & (F.col("o_orderdate") < ts("1995-10-01"))
    ).select("o_custkey", cents.alias("cents"))
    spend = (
        window.join(cohort.hint("shuffle_hash"), "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    seg = F.expr("cents DIV 500000").cast("bigint")
    return (
        spend.groupBy(seg.alias("segment"))
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .select("segment", "num_customers", (F.col("segment") * 5000).alias("segment_base"))
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q80 shape: channel x region profit report with ROLLUP totals (the
# three-CTE union-then-rollup class)
# ---------------------------------------------------------------------------

_CHAN_SQL = """CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'URG'
             WHEN o_orderpriority = '3-MEDIUM' THEN 'MED'
             ELSE 'LOW' END"""

_TPCDS_Q80_SQL = f"""
WITH base AS (
  SELECT {_CHAN_SQL} AS channel, n_name,
         SUM(CASE WHEN l_returnflag <> 'R' THEN {_TENTHC_REV} ELSE 0 END) AS sales_u,
         SUM(CASE WHEN l_returnflag =  'R' THEN {_TENTHC_REV} ELSE 0 END) AS ret_u
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT channel, n_name,
       GROUPING(channel) + GROUPING(n_name) AS lochierarchy,
       CAST(SUM(sales_u) AS DOUBLE) / 10000 AS sales,
       CAST(SUM(ret_u) AS DOUBLE) / 10000 AS returns,
       CAST(SUM(sales_u) - SUM(ret_u) AS DOUBLE) / 10000 AS profit
FROM base
GROUP BY ROLLUP(channel, n_name)
ORDER BY lochierarchy DESC, channel, n_name
"""


@register("tpcds_q80", oracle=_TPCDS_Q80_SQL, tags=("tpcds", "rollup"))
def tpcds_q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q80 shape (cases/tpcds/query/query80.sql): sales, returns and
    profit per (channel, region) with ROLLUP subtotals and a grand total —
    the query text computes each channel in its own CTE (sales LEFT JOIN
    returns), UNION ALLs the three reports, and rolls the union up.

    Scale shape: the union disappears — the channel is a CASE column and
    sales/returns are conditional sums in ONE pass over the
    orderkey-co-partitioned fact join (shuffle_hash pinned); ROLLUP's
    Expand runs over the channel x nation PARTIAL (75 rows), never over raw
    rows (the q36/q67 discipline). Exact 1e-4-dollar longs re-aggregate
    associatively through the rollup.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", rev_tenthc().alias("tenthc")
    )
    ords = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    channel = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "URG")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "MED")
        .otherwise("LOW")
    )
    base = (
        li.join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(channel.alias("channel"), "n_name")
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") != "R", F.col("tenthc")).otherwise(
                    F.lit(0)
                )
            ).alias("sales_u"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", F.col("tenthc")).otherwise(
                    F.lit(0)
                )
            ).alias("ret_u"),
        )
    )
    return (
        base.rollup("channel", "n_name")
        .agg(
            (F.grouping("channel") + F.grouping("n_name")).alias("lochierarchy"),
            (F.sum("sales_u").cast("double") / 10000).alias("sales"),
            (F.sum("ret_u").cast("double") / 10000).alias("returns"),
            ((F.sum("sales_u") - F.sum("ret_u")).cast("double") / 10000).alias(
                "profit"
            ),
        )
        .orderBy(F.col("lochierarchy").desc(), "channel", "n_name")
    )


# ---------------------------------------------------------------------------
# q46 shape: per-order "bought away from home" rollup (dimension-mismatch
# predicate inside a per-order aggregate, customer ride-along, top-k)
# ---------------------------------------------------------------------------

_TPCDS_Q46_SQL = f"""
WITH per AS (
  SELECT o_orderkey, c_name,
         SUM(CASE WHEN s_nationkey <> c_nationkey THEN {_TENTHC_REV} ELSE 0 END)
           AS away_u,
         SUM(CASE WHEN s_nationkey = c_nationkey THEN {_TENTHC_REV} ELSE 0 END)
           AS home_u
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_name, o_orderkey,
       CAST(away_u AS DOUBLE) / 10000 AS away_rev,
       CAST(home_u AS DOUBLE) / 10000 AS home_rev
FROM per
WHERE away_u > 0
ORDER BY away_u DESC, o_orderkey
LIMIT 100
"""


@register("tpcds_q46", oracle=_TPCDS_Q46_SQL, tags=("tpcds", "mismatch"))
def tpcds_q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q46 shape (cases/tpcds/query/query46.sql): per-order amounts
    split by whether the line was sourced OUTSIDE the customer's home
    nation (the text's "current city <> store city" mismatch), customer
    name riding along, top-100 by away-revenue.

    Scale shape: supplier nation rides a broadcast dim onto the fact; the
    fact joins orders co-partitioned on orderkey and customer on custkey
    (both shuffle_hash pinned — both sides fact-proportional); ONE
    per-order conditional aggregate computes away/home splits; top-k is
    TakeOrderedAndProject over the aggregate (never a global sort of raw
    rows). The total order (away_u DESC, unique orderkey) makes the LIMIT
    deterministic cross-engine.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", rev_tenthc().alias("tenthc")
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    )
    per = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "c_name")
        .agg(
            F.sum(
                F.when(
                    F.col("s_nationkey") != F.col("c_nationkey"), F.col("tenthc")
                ).otherwise(F.lit(0))
            ).alias("away_u"),
            F.sum(
                F.when(
                    F.col("s_nationkey") == F.col("c_nationkey"), F.col("tenthc")
                ).otherwise(F.lit(0))
            ).alias("home_u"),
        )
    )
    return (
        per.filter(F.col("away_u") > 0)
        .orderBy(F.col("away_u").desc(), "o_orderkey")
        .limit(100)
        .select(
            "c_name",
            "o_orderkey",
            (F.col("away_u").cast("double") / 10000).alias("away_rev"),
            (F.col("home_u").cast("double") / 10000).alias("home_rev"),
        )
    )


# ---------------------------------------------------------------------------
# q64 shape: the cross-year resale chain — the same item sold in two widely
# separated years with the later average unit price BELOW the earlier (the
# "sold cheaper on resale" comparison at the heart of the q64 join chain)
# ---------------------------------------------------------------------------

_Y1, _Y2 = 1996, 1998

_TPCDS_Q64_SQL = f"""
WITH per AS (
  SELECT l_partkey,
         SUM(CASE WHEN year(o_orderdate) = {_Y1}
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q1,
         SUM(CASE WHEN year(o_orderdate) = {_Y2}
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q2,
         SUM(CASE WHEN year(o_orderdate) = {_Y1}
                  THEN {_TENTHC_REV} ELSE 0 END) AS r1,
         SUM(CASE WHEN year(o_orderdate) = {_Y2}
                  THEN {_TENTHC_REV} ELSE 0 END) AS r2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT per.l_partkey, p_brand,
       CAST(q1 AS BIGINT) AS qty_y1, CAST(q2 AS BIGINT) AS qty_y2,
       CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE) / 10000 AS unit_price_y1,
       CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE) / 10000 AS unit_price_y2
FROM per JOIN part ON per.l_partkey = p_partkey
WHERE q1 > 0 AND q2 > 0 AND r2 * q1 < r1 * q2
ORDER BY per.l_partkey
"""


@register("tpcds_q64", oracle=_TPCDS_Q64_SQL, tags=("tpcds", "resale"))
def tpcds_q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape (cases/tpcds/query/query64.sql): items sold in two
    separated years whose later average unit price fell below the earlier —
    the price-comparison core of the q64 resale chain, which the query text
    builds as a giant cs1 x cs2 self-join of two year-filtered sale chains.

    Scale shape: the self-join collapses to ONE conditional aggregate per
    item over the orderkey-co-partitioned fact join (both year slices in a
    single pass, map-side-combinable bigints); the part dim broadcasts onto
    the item-sized aggregate.

    Determinism: the price-drop decision is the pure-BIGINT
    cross-multiplication r2*q1 < r1*q2 (unit2 < unit1) over exact
    1e-4-dollar and quantity integers — no division at the boundary; the
    emitted unit prices are fixed-shape IEEE expressions over the same
    integers."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.col("l_quantity").cast("bigint").alias("qi"),
        rev_tenthc().alias("tenthc"),
    )
    ords = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("oy")
    )
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")

    def yr(y: int, expr):
        return F.sum(F.when(F.col("oy") == y, expr).otherwise(F.lit(0)))

    per = (
        li.join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_partkey")
        .agg(
            yr(_Y1, F.col("qi")).alias("q1"),
            yr(_Y2, F.col("qi")).alias("q2"),
            yr(_Y1, F.col("tenthc")).alias("r1"),
            yr(_Y2, F.col("tenthc")).alias("r2"),
        )
    )
    q1, q2, r1, r2 = F.col("q1"), F.col("q2"), F.col("r1"), F.col("r2")
    return (
        per.filter((q1 > 0) & (q2 > 0) & (r2 * q1 < r1 * q2))
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "p_brand",
            q1.alias("qty_y1"),
            q2.alias("qty_y2"),
            (r1.cast("double") / q1.cast("double") / 10000).alias("unit_price_y1"),
            (r2.cast("double") / q2.cast("double") / 10000).alias("unit_price_y2"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# q44 shape: best/worst performers — two OPPOSITE rankings of one
# pre-aggregated series, self-joined on rank
# ---------------------------------------------------------------------------

_TPCDS_Q44_SQL = f"""
WITH perf AS (
  SELECT l_partkey,
         CAST(SUM({REV_SQL}) AS DOUBLE) / COUNT(*) AS avg_rev
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, avg_rev,
         ROW_NUMBER() OVER (ORDER BY avg_rev ASC,  l_partkey ASC) AS rn_worst,
         ROW_NUMBER() OVER (ORDER BY avg_rev DESC, l_partkey ASC) AS rn_best
  FROM perf
)
SELECT b.rn_best AS rank,
       b.l_partkey AS best_pk,  b.avg_rev AS best_avg,
       w.l_partkey AS worst_pk, w.avg_rev AS worst_avg
FROM ranked b JOIN ranked w ON b.rn_best = w.rn_worst
WHERE b.rn_best <= 10
ORDER BY rank
"""


@register("tpcds_q44", oracle=_TPCDS_Q44_SQL, tags=("tpcds", "window", "rank"))
def tpcds_q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q44 shape (cases/tpcds/query/query44.sql): the best and the
    worst performing items side by side — ONE pre-aggregated per-item
    series ranked twice in OPPOSITE directions, the two rankings joined on
    rank position (the text's asc/desc subquery pair). Performance here is
    average revenue per lineitem of the part.

    Scale shape: the ranked input is the per-PART aggregate (dimension-
    sized, reduced map-side from the fact), so the two global row_number
    windows sort part-count rows, never fact rows — the same contract the
    text relies on (items, not store_sales, get ranked); the rank self-
    join is rank-key equi on two copies of that same dimension-sized
    series.

    Determinism: avg_rev = exact decimal sum cast DOUBLE / bigint count —
    identical IEEE expression on both engines; both rankings tie-break on
    the unique part key, and the rank <= 10 cut rides the total order."""
    li = table(spark, sf_dir, "lineitem")
    # persist the shared per-part aggregate: the best and worst branches
    # both consume it — without the persist the fact is scanned and
    # pre-aggregated twice (q65's lesson); count() materializes first
    perf = (
        li.groupBy("l_partkey")
        .agg(
            (F.sum(rev_col()).cast("double") / F.count(F.lit(1))).alias("avg_rev")
        )
        .persist()
    )
    perf.count()
    w_worst = Window.orderBy(F.asc("avg_rev"), F.asc("l_partkey"))
    w_best = Window.orderBy(F.desc("avg_rev"), F.asc("l_partkey"))
    ranked = perf.select(
        "l_partkey",
        "avg_rev",
        F.row_number().over(w_worst).alias("rn_worst"),
        F.row_number().over(w_best).alias("rn_best"),
    )
    b = ranked.select(
        F.col("rn_best").alias("rank"),
        F.col("l_partkey").alias("best_pk"),
        F.col("avg_rev").alias("best_avg"),
    ).filter(F.col("rank") <= 10)
    w = ranked.select(
        F.col("rn_worst").alias("rank"),
        F.col("l_partkey").alias("worst_pk"),
        F.col("avg_rev").alias("worst_avg"),
    ).filter(F.col("rank") <= 10)
    return (
        b.join(F.broadcast(w), "rank")
        .select("rank", "best_pk", "best_avg", "worst_pk", "worst_avg")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q25 shape: three-fact chain — sale, its return, and a LATER repurchase by
# the same customer of the same item
# ---------------------------------------------------------------------------

_TPCDS_Q25_SQL = f"""
WITH sr AS (
  SELECT s.l_partkey, o.o_custkey, o.o_orderdate,
         CAST(s.l_quantity AS DECIMAL(9,2)) AS ret_qty
  FROM lineitem s JOIN orders o ON s.l_orderkey = o.o_orderkey
  WHERE s.l_returnflag = 'R'
), chain AS (
  SELECT sr.l_partkey, sr.ret_qty,
         {REV_SQL.replace('l_extendedprice', 'l2.l_extendedprice').replace('l_discount', 'l2.l_discount')} AS rep_rev
  FROM sr
  JOIN orders o2 ON sr.o_custkey = o2.o_custkey AND o2.o_orderdate > sr.o_orderdate
  JOIN lineitem l2 ON l2.l_orderkey = o2.o_orderkey AND l2.l_partkey = sr.l_partkey
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_chains,
       CAST(SUM(ret_qty) AS DOUBLE) AS returned_qty,
       CAST(SUM(rep_rev) AS DOUBLE) AS repurchase_rev
FROM chain JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


@register("tpcds_q25", oracle=_TPCDS_Q25_SQL, tags=("tpcds", "multi-fact", "chain"))
def tpcds_q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q25/q29 shape (cases/tpcds/query/query25.sql): the THREE-FACT
    chain join — a sale, its return, and a later repurchase of the same
    item by the same customer — aggregated per brand. On this fixture the
    returned sale is the l_returnflag='R' line (dated by its order), and
    the repurchase is any line of a LATER order by the same customer for
    the same part.

    Scale shape: the chain joins on (custkey) then (orderkey, partkey) —
    every side is a fact slice, so all three joins are pinned shuffle_hash
    (a year/flag filter shrinks a slice below the broadcast threshold at
    fixture scale; broadcasting a fact slice deadlocks at 100 TB); the
    date predicate rides the custkey join as a residual, and the brand
    dimension broadcasts onto the (small) chain output.

    Determinism: quantities and revenue are exact decimal sums cast to
    DOUBLE once; counts are BIGINT; output totally ordered by brand."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    sr = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_partkey", dec("l_quantity").cast("decimal(9,2)").alias("ret_qty"))
        .join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_partkey", "o_custkey", F.col("o_orderdate").alias("sale_date"), "ret_qty")
    )
    o2 = ords.select(
        F.col("o_orderkey").alias("o2_ok"),
        F.col("o_custkey").alias("o2_ck"),
        F.col("o_orderdate").alias("o2_date"),
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_ok"),
        F.col("l_partkey").alias("l2_pk"),
        rev_col().alias("rep_rev"),
    )
    chain = (
        sr.join(
            o2.hint("shuffle_hash"),
            (F.col("o_custkey") == F.col("o2_ck"))
            & (F.col("o2_date") > F.col("sale_date")),
        )
        .join(
            l2.hint("shuffle_hash"),
            (F.col("l2_ok") == F.col("o2_ok")) & (F.col("l2_pk") == F.col("l_partkey")),
        )
    )
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        chain.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chains"),
            F.sum("ret_qty").cast("double").alias("returned_qty"),
            F.sum("rep_rev").cast("double").alias("repurchase_rev"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q50 shape: cross-fact latency band counts — one conditional aggregate over
# the day-difference of two joined event dates
# ---------------------------------------------------------------------------

_TPCDS_Q50_SQL = """
WITH lat AS (
  SELECT year(o_orderdate) AS yr,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT yr,
       CAST(SUM(CASE WHEN d <= -500 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
       CAST(SUM(CASE WHEN d > -500 AND d <= 0    THEN 1 ELSE 0 END) AS BIGINT) AS b1,
       CAST(SUM(CASE WHEN d > 0    AND d <= 500  THEN 1 ELSE 0 END) AS BIGINT) AS b2,
       CAST(SUM(CASE WHEN d > 500  AND d <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
       CAST(SUM(CASE WHEN d > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS b4
FROM lat GROUP BY yr ORDER BY yr
"""


@register("tpcds_q50", oracle=_TPCDS_Q50_SQL, tags=("tpcds", "conditional-agg", "latency"))
def tpcds_q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q50 shape (cases/tpcds/query/query50.sql): return-latency
    band counts — the day difference between two JOINED fact dates bucketed
    into 5 bands by one conditional aggregate (the text's 30/60/90/120/120+
    over sale->return; here ship-vs-order with 500-day bands, since the
    fixture's dates are independently drawn).

    Scale shape: one orderkey-co-partitioned fact-fact join (shuffle_hash
    pinned both ways), then a single map-side-combinable aggregate — the
    bands are CASE expressions inside ONE pass, never five scans.

    Determinism: the latency is a pure-integer day difference of the DATE
    casts (identical on both engines — no dow/week convention involved);
    band counts are BIGINT."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    lat = (
        li.join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.year("o_orderdate").alias("yr"), d.alias("d"))
    )

    def band(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    return (
        lat.groupBy("yr")
        .agg(
            band(F.col("d") <= -500, "b0"),
            band((F.col("d") > -500) & (F.col("d") <= 0), "b1"),
            band((F.col("d") > 0) & (F.col("d") <= 500), "b2"),
            band((F.col("d") > 500) & (F.col("d") <= 1000), "b3"),
            band(F.col("d") > 1000, "b4"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# q13 shape: OR-of-AND band predicates across three joined relations, one
# global average row
# ---------------------------------------------------------------------------

_TPCDS_Q13_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE (c_mktsegment = 'BUILDING'   AND l_quantity BETWEEN 1  AND 15
       AND o_totalprice BETWEEN 50000  AND 150000)
   OR (c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 16 AND 30
       AND o_totalprice BETWEEN 100000 AND 200000)
   OR (c_mktsegment = 'MACHINERY'  AND l_quantity BETWEEN 31 AND 50
       AND o_totalprice BETWEEN 150000 AND 300000)
"""


@register("tpcds_q13", oracle=_TPCDS_Q13_SQL, tags=("tpcds", "or-bands"))
def tpcds_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q13/q48 shape (cases/tpcds/query/query13.sql): one global
    average row under an OR of three (demographic AND quantity-band AND
    price-band) conjunct groups spanning three joined relations — the
    disjunctive band filter the optimizer cannot push as a single
    conjunct, evaluated in one pass.

    Scale shape: customer is the broadcast dimension; the orders join is
    orderkey-co-partitioned (shuffle_hash pinned — a fact); the OR
    predicate applies as one residual filter after the joins, and the
    single global aggregate combines map-side.

    Determinism: averages are exact decimal sums cast DOUBLE divided by
    the BIGINT count — identical IEEE expressions both sides."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = F.col("c_mktsegment")
    qty = F.col("l_quantity")
    tp = F.col("o_totalprice")
    pred = (
        (seg == "BUILDING") & qty.between(1, 15) & tp.between(50000, 150000)
    ) | (
        (seg == "AUTOMOBILE") & qty.between(16, 30) & tp.between(100000, 200000)
    ) | (
        (seg == "MACHINERY") & qty.between(31, 50) & tp.between(150000, 300000)
    )
    joined = (
        li.join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pred)
    )
    n = F.count(F.lit(1)).cast("bigint")
    return joined.agg(
        n.alias("n"),
        (F.sum(dec("l_quantity")).cast("double") / n).alias("avg_qty"),
        (F.sum(dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
        F.sum(rev_col()).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q1 shape: entities above a FRACTION of their GROUP's average — agg-of-agg
# threshold with cross-multiplied integer comparison
# ---------------------------------------------------------------------------

_TPCDS_Q1_SQL = """
WITH cr AS (
  SELECT o_custkey, c_nationkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS ret_c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R'
  GROUP BY o_custkey, c_nationkey
), nat AS (
  SELECT c_nationkey AS nk, CAST(SUM(ret_c) AS BIGINT) AS nat_c,
         CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM cr GROUP BY c_nationkey
)
SELECT o_custkey, c_nationkey,
       CAST(ret_c AS DOUBLE) / 100 AS returned
FROM cr JOIN nat ON c_nationkey = nk
WHERE ret_c * n_cust * 10 > 12 * nat_c
ORDER BY ret_c DESC, o_custkey
LIMIT 20
"""


@register("tpcds_q1", oracle=_TPCDS_Q1_SQL, tags=("tpcds", "agg-of-agg"))
def tpcds_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q1/q30/q81 shape (cases/tpcds/query/query1.sql): customers
    whose total returns exceed 1.2x the AVERAGE customer's returns within
    their group (state in the text; nation here) — the agg-of-agg
    correlated-average threshold with an identity ride-along.

    Scale shape: per-customer returns aggregate once (map-side combined);
    the group-level (nation) average is a second aggregate OVER THE FIRST's
    output (customer-count-sized, never fact-sized) and broadcasts back
    onto it — the decorrelated form of the text's correlated subquery.

    Determinism: money rides integer cents end to end and the 1.2x
    threshold cross-multiplies to a pure-BIGINT comparison
    (ret * n * 10 > 12 * sum) — no float division at the filter boundary;
    the LIMIT rides (exact cents DESC, unique custkey)."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # persist the shared per-customer aggregate: the output rows AND the
    # nation-average re-aggregation both derive from it — without the
    # persist Catalyst inlines it twice and scans the fact twice (same fix
    # as q65); count() materializes before the self-consume (lazy persist
    # does not dedupe concurrent computation)
    cr = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", cents_col("l_extendedprice").alias("price_c"))
        .join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum("price_c").cast("long").alias("ret_c"))
        .persist()
    )
    cr.count()
    nat = cr.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.sum("ret_c").cast("long").alias("nat_c"),
        F.count(F.lit(1)).cast("long").alias("n_cust"),
    )
    return (
        cr.join(F.broadcast(nat), F.col("c_nationkey") == F.col("nk"))
        .filter(F.col("ret_c") * F.col("n_cust") * 10 > 12 * F.col("nat_c"))
        .select(
            "o_custkey",
            "c_nationkey",
            (F.col("ret_c").cast("double") / 100).alias("returned"),
            F.col("ret_c").alias("__key"),  # EXACT cents sort key — the
            # double roundtrip (ret_c/100)*100 truncates ~5% of values by 1
        )
        .orderBy(F.desc("__key"), F.asc("o_custkey"))
        .limit(20)
        .drop("__key")
    )


# ---------------------------------------------------------------------------
# q75 shape: item-grain year-over-year DECLINE report — both years'
# quantities and revenue from ONE conditional aggregate, integer-exact
# decline predicate
# ---------------------------------------------------------------------------

_TPCDS_Q75_SQL = f"""
WITH py AS (
  SELECT l_partkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS q96_c,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997
              THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS q97_c,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
              THEN CAST({REV_SQL} * 10000 AS BIGINT) END) AS BIGINT) AS r96_t,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1997
              THEN CAST({REV_SQL} * 10000 AS BIGINT) END) AS BIGINT) AS r97_t
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(q96_c AS DOUBLE) / 100 AS qty_y1,
       CAST(q97_c AS DOUBLE) / 100 AS qty_y2,
       CAST(r97_t - r96_t AS DOUBLE) / 10000 AS rev_delta
FROM py
WHERE q96_c IS NOT NULL AND q97_c IS NOT NULL AND q97_c < q96_c
ORDER BY q96_c - q97_c DESC, l_partkey
LIMIT 50
"""


@register("tpcds_q75", oracle=_TPCDS_Q75_SQL, tags=("tpcds", "yoy", "decline"))
def tpcds_q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q75 shape (cases/tpcds/query/query75.sql): the item-grain
    year-over-year DECLINE report — current vs prior year quantity and
    revenue per item, keeping items that sold LESS, ranked by the size of
    the drop. Both years come from ONE conditional aggregate over a single
    fact pass (never a per-year self-join of raw rows).

    Scale shape: one orderkey-co-partitioned fact join (shuffle_hash
    pinned), one per-item aggregate with map-side partials; the decline
    filter and ordering run on the aggregate's item-sized output.

    Determinism: quantities ride integer hundredths, revenue integer
    1e-4 units (rev carries exactly 4 decimals), the decline predicate
    and the ORDER BY drop are pure-BIGINT; emitted once as DOUBLE."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    yr = F.year("o_orderdate")
    qty_c = (dec("l_quantity") * 100).cast("long")

    def ycase(y, col):
        return F.sum(F.when(yr == y, col)).cast("long")

    py = (
        li.join(ords.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(yr.isin(1996, 1997))
        .groupBy("l_partkey")
        .agg(
            ycase(1996, qty_c).alias("q96_c"),
            ycase(1997, qty_c).alias("q97_c"),
            ycase(1996, rev_tenthc()).alias("r96_t"),
            ycase(1997, rev_tenthc()).alias("r97_t"),
        )
    )
    return (
        py.filter(
            F.col("q96_c").isNotNull()
            & F.col("q97_c").isNotNull()
            & (F.col("q97_c") < F.col("q96_c"))
        )
        .select(
            "l_partkey",
            (F.col("q96_c").cast("double") / 100).alias("qty_y1"),
            (F.col("q97_c").cast("double") / 100).alias("qty_y2"),
            ((F.col("r97_t") - F.col("r96_t")).cast("double") / 10000).alias(
                "rev_delta"
            ),
            (F.col("q96_c") - F.col("q97_c")).alias("__drop"),
        )
        .orderBy(F.desc("__drop"), F.asc("l_partkey"))
        .limit(50)
        .drop("__drop")
    )


# ---------------------------------------------------------------------------
# q6 shape: correlated category-average price threshold (r8 verdict item 5)
# ---------------------------------------------------------------------------

_TPCDS_Q6_SQL = """
WITH cat AS (
  SELECT p_type,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_price
  FROM part GROUP BY p_type
),
pricey AS (
  SELECT p_partkey
  FROM part JOIN cat USING (p_type)
  WHERE CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE)
        > 1.005 * avg_price
)
SELECT n_name AS state, CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
JOIN pricey   ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE year(l_shipdate) = 1997 AND quarter(l_shipdate) = 1
GROUP BY n_name
HAVING COUNT(*) >= 2
ORDER BY cnt, state
LIMIT 100
"""


@register("tpcds_q6", oracle=_TPCDS_Q6_SQL, tags=("tpcds", "subquery"))
def tpcds_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q6 shape (cases/tpcds/query/query6.sql — correlated
    category-average threshold): customers' regions buying items priced
    >1.005x their CATEGORY's average price in one quarter, HAVING a minimum
    count. Re-targeted: category = p_type, state = customer nation,
    single-quarter window on l_shipdate (the fixture's narrow synthetic
    price spread sets the 1.005 margin; the spec's 1.2 is vacuous on it).

    Scale shape: the correlated average decorrelates to a 6-row category
    aggregate joined back to part — both broadcast; the month-filtered fact
    then makes ONE shuffle per join key (orders, customer). The HAVING
    runs on a 25-row aggregate. At 100 TB only the two fact shuffles grow."""
    pt = table(spark, sf_dir, "part")
    cat = pt.groupBy("p_type").agg(
        (F.sum(dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_price"
        )
    )
    pricey = (
        pt.join(F.broadcast(cat), "p_type")
        .filter(
            dec("p_retailprice").cast("double") > 1.005 * F.col("avg_price")
        )
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1997) & (F.quarter("l_shipdate") == 1)
    )
    ords = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(pricey), li.l_partkey == pricey.p_partkey)
        .join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("state"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .orderBy("cnt", "state")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q33/q56/q60 family: cross-channel union-agg over a subquery-restricted
# item set (one probe covers the three siblings — they differ only in the
# restriction column)
# ---------------------------------------------------------------------------

_TPCDS_Q33_SQL = f"""
WITH restricted AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_type IN (SELECT p_type FROM part WHERE p_partkey = 0)
),
ch_a AS (
  SELECT p_brand, SUM({REV_SQL}) AS total_dec
  FROM lineitem JOIN restricted ON l_partkey = p_partkey
  WHERE l_returnflag = 'A' AND year(l_shipdate) = 1997
  GROUP BY p_brand
),
ch_n AS (
  SELECT p_brand, SUM({REV_SQL}) AS total_dec
  FROM lineitem JOIN restricted ON l_partkey = p_partkey
  WHERE l_returnflag = 'N' AND year(l_shipdate) = 1997
  GROUP BY p_brand
),
ch_r AS (
  SELECT p_brand, SUM({REV_SQL}) AS total_dec
  FROM lineitem JOIN restricted ON l_partkey = p_partkey
  WHERE l_returnflag = 'R' AND year(l_shipdate) = 1997
  GROUP BY p_brand
)
SELECT p_brand, CAST(SUM(total_dec) AS DOUBLE) AS total_sales
FROM (SELECT * FROM ch_a UNION ALL SELECT * FROM ch_n
      UNION ALL SELECT * FROM ch_r) tmp
GROUP BY p_brand
ORDER BY total_sales, p_brand
LIMIT 100
"""


@register("tpcds_q33", oracle=_TPCDS_Q33_SQL, tags=("tpcds", "union-agg"))
def tpcds_q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q33/q56/q60 family shape (cases/tpcds/query/query33.sql —
    cross-channel union-agg): per-channel aggregates over an item set
    restricted by an IN subquery, UNION ALL'd and re-aggregated. One probe
    covers the three siblings (they differ only in the restriction column:
    manufact/item_id/category). Re-targeted: channels = l_returnflag
    segments, restriction = parts sharing part 0's p_type.

    Scale shape: the restriction subquery is a part-table semi join
    (broadcast); each channel is a partial-aggregated scan of the SAME
    fact with a disjoint filter — Spark's exchange reuse collapses the
    three scans, and the re-aggregate runs over 3x|brands| rows only."""
    pt = table(spark, sf_dir, "part")
    want_type = pt.filter(F.col("p_partkey") == 0).select("p_type")
    restricted = (
        pt.join(F.broadcast(want_type), "p_type")
        .select("p_partkey", "p_brand")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1997)
    # the spec's channels are three different FACT TABLES; on one fact,
    # per-channel scans would read it three times. Aggregate ONCE by
    # (brand, channel) — decimal sums are associative, so splitting by
    # flag then re-summing is exact — and derive each channel CTE from
    # the persisted brand x flag aggregate (the q14/q49 single-scan
    # discipline); the union-agg shape downstream is unchanged.
    base = (
        li.filter(F.col("l_returnflag").isin("A", "N", "R"))
        .join(F.broadcast(restricted), li.l_partkey == restricted.p_partkey)
        .groupBy("p_brand", "l_returnflag")
        .agg(F.sum(rev_col()).alias("total_dec"))
        .persist()
    )

    def channel(flag: str) -> DataFrame:
        return base.filter(F.col("l_returnflag") == flag).select(
            "p_brand", "total_dec"
        )

    return (
        channel("A")
        .unionByName(channel("N"))
        .unionByName(channel("R"))
        .groupBy("p_brand")
        .agg(F.sum("total_dec").cast("double").alias("total_sales"))
        .orderBy("total_sales", "p_brand")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q72 shape: 3-date-role fact chain with quantity + date inequalities and
# two left joins (the TPC-DS "inventory chain" blowup query)
# ---------------------------------------------------------------------------

_TPCDS_Q72_SQL = """
WITH fact AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_shipdate,
         o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND year(o_orderdate) = 1997
    AND l_shipdate > o_orderdate + INTERVAL 5 DAY
),
inv AS (
  SELECT l_partkey AS inv_partkey, l_quantity AS inv_qty,
         year(l_shipdate) * 100 + weekofyear(l_shipdate) AS inv_week
  FROM lineitem
),
promo AS (SELECT p_partkey AS promo_pk FROM part WHERE p_size >= 40),
ret AS (
  SELECT DISTINCT l_orderkey AS r_ok, l_partkey AS r_pk
  FROM lineitem WHERE l_returnflag = 'R'
)
SELECT p_name, s_name,
       year(f.o_orderdate) * 100 + weekofyear(f.o_orderdate) AS wk,
       CAST(SUM(CASE WHEN promo_pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS no_promo,
       CAST(SUM(CASE WHEN promo_pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS promo,
       CAST(SUM(CASE WHEN r_ok IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS returned,
       CAST(COUNT(*) AS BIGINT) AS total_cnt
FROM fact f
JOIN inv ON inv_partkey = f.l_partkey
        AND inv_week = year(f.o_orderdate) * 100 + weekofyear(f.o_orderdate)
        AND inv_qty < f.l_quantity
JOIN part     ON p_partkey = f.l_partkey
JOIN supplier ON s_suppkey = f.l_suppkey
LEFT JOIN promo ON promo_pk = f.l_partkey
LEFT JOIN ret   ON r_ok = f.l_orderkey AND r_pk = f.l_partkey
GROUP BY p_name, s_name, wk
ORDER BY total_cnt DESC, p_name, s_name, wk
LIMIT 100
"""


@register("tpcds_q72", oracle=_TPCDS_Q72_SQL, tags=("tpcds", "fact-chain"))
def tpcds_q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape (cases/tpcds/query/query72.sql — the inventory
    chain): a fact joined to a SECOND fact on item + week equality with a
    quantity inequality, three date roles (sold/ship/inventory), and two
    LEFT joins (promotion, returns), grouped and top-k'd. Re-targeted:
    inventory = lineitem keyed (part, ship-week), sold/ship dates =
    o_orderdate/l_shipdate with the spec's ``ship > sold + 5 days``
    inequality, promotion = large-size parts, returns = returned lines of
    the same order+part.

    Scale shape: the fact side is pre-filtered (priority + year + date
    inequality) BEFORE the inventory join, which shuffles both sides on
    (partkey, week) — co-partitioned, shuffle_hash pinned, the quantity
    inequality evaluated inside the join. The left joins are a broadcast
    (promo dim) and a pre-DISTINCTed returns key set. q72's notorious
    blowup is the unfiltered inventory cross-week join — the probe keeps
    the week-equality key that prevents it."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders")
    pt = table(spark, sf_dir, "part")
    sup = table(spark, sf_dir, "supplier")

    def wk_of(c):
        return F.year(c) * 100 + F.weekofyear(c)

    fact = (
        li.join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
        .filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.year("o_orderdate") == 1997)
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 5 DAY"))
        )
        .select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "o_orderdate", wk_of(F.col("o_orderdate")).alias("wk"),
        )
    )
    inv = li.select(
        F.col("l_partkey").alias("inv_partkey"),
        F.col("l_quantity").alias("inv_qty"),
        wk_of(F.col("l_shipdate")).alias("inv_week"),
    )
    promo = pt.filter(F.col("p_size") >= 40).select(
        F.col("p_partkey").alias("promo_pk")
    )
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_ok"), F.col("l_partkey").alias("r_pk"))
        .distinct()
    )
    return (
        fact.join(
            inv.hint("shuffle_hash"),
            (F.col("inv_partkey") == fact.l_partkey)
            & (F.col("inv_week") == fact.wk)
            & (F.col("inv_qty") < fact.l_quantity),
        )
        .join(F.broadcast(pt.select("p_partkey", "p_name")), fact.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup.select("s_suppkey", "s_name")), fact.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(promo), F.col("promo_pk") == fact.l_partkey, "left")
        .join(
            ret,
            (F.col("r_ok") == fact.l_orderkey) & (F.col("r_pk") == fact.l_partkey),
            "left",
        )
        .groupBy("p_name", "s_name", "wk")
        .agg(
            F.sum(F.when(F.col("promo_pk").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("no_promo"),
            F.sum(F.when(F.col("promo_pk").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("promo"),
            F.sum(F.when(F.col("r_ok").isNull(), 0).otherwise(1))
            .cast("bigint")
            .alias("returned"),
            F.count(F.lit(1)).alias("total_cnt"),
        )
        .orderBy(F.desc("total_cnt"), "p_name", "s_name", "wk")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q95 shape: two-level IN against a multi-warehouse self-join CTE
# ---------------------------------------------------------------------------

_TPCDS_Q95_SQL = """
WITH multi AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2
),
ret AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
SELECT CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS order_count,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_ship_cost,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(18,2))
                       AS DECIMAL(8,2))) AS DOUBLE) AS total_net
FROM lineitem l
JOIN orders   ON l.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1997-03-01'
  AND o_orderdate <  DATE '1997-03-01' + INTERVAL 60 DAY
  AND c_nationkey < 5
  AND l.l_orderkey IN (SELECT l_orderkey FROM multi)
  AND l.l_orderkey IN (SELECT r.l_orderkey FROM ret r
                       JOIN multi m ON r.l_orderkey = m.l_orderkey)
"""


@register("tpcds_q95", oracle=_TPCDS_Q95_SQL, tags=("tpcds", "semi-join"))
def tpcds_q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q95 shape (cases/tpcds/query/query95.sql — two-level IN on
    the same fact): orders shipped from >= 2 warehouses AND present in
    returns-joined-to-that-same-CTE, counted distinct with shipping/profit
    sums. Re-targeted: warehouses = suppliers, returns = returned lines,
    60-day window + customer-nation filter.

    Scale shape: the spec text's ws_wh is a PAIR-EMITTING self-join
    (O(lines^2 per order)); the scale-correct form both engines run here
    is the aggregate HAVING COUNT(DISTINCT supp) >= 2 — same membership
    semantics under IN, linear in the fact. Both IN arms become left-semi
    joins on the order key, sharing one exchange."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    # Both IN-arms collapse to ONE key set: ret_multi = ret ∩ multi ⊆ multi,
    # so "IN multi AND IN ret_multi" ≡ "IN ret_multi" ≡ orders with >= 2
    # distinct suppliers AND >= 1 returned line — one per-orderkey aggregate
    # carrying both marks replaces two full-fact aggregates (the old `multi`
    # frame fed two consumers, so its fact scan + countDistinct ran twice)
    # and one of the two semi joins. 4 fact scans -> 2.
    keys = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("mn"),
            F.max("l_suppkey").alias("mx"),
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "has_ret"
            ),
        )
        # >= 2 distinct suppliers == min != max: countDistinct alongside
        # another aggregate plans through Expand (2x rows into the
        # shuffle); min/max partial-aggregate cleanly (measured at sf1:
        # the Expand form was slower than the two-aggregate original)
        .filter((F.col("mn") != F.col("mx")) & (F.col("has_ret") == 1))
        .select("l_orderkey")
    )
    sel = (
        li.join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= ts("1997-03-01"))
            & (F.col("o_orderdate") < F.lit("1997-04-30").cast("timestamp"))
        )
        .join(cust, ords.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") < 5)
        .join(keys.hint("shuffle_hash"), "l_orderkey", "left_semi")
    )
    return sel.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("order_count"),
        F.sum(dec("l_extendedprice")).cast("double").alias("total_ship_cost"),
        F.sum(rev_col()).cast("double").alias("total_net"),
    )


# ---------------------------------------------------------------------------
# q16 shape: EXISTS other-warehouse + NOT EXISTS returns + count-distinct
# ---------------------------------------------------------------------------

_TPCDS_Q16_SQL = """
SELECT CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS order_count,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_ship_cost,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(18,2))
                       AS DECIMAL(8,2))) AS DOUBLE) AS total_net
FROM lineitem l
JOIN orders   ON l.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1996-06-01'
  AND o_orderdate <  DATE '1996-06-01' + INTERVAL 60 DAY
  AND c_nationkey >= 20
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l.l_orderkey
                AND l2.l_suppkey <> l.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem r
                  WHERE r.l_orderkey = l.l_orderkey
                    AND r.l_returnflag = 'R')
"""


@register("tpcds_q16", oracle=_TPCDS_Q16_SQL, tags=("tpcds", "anti-join"))
def tpcds_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q16 shape (cases/tpcds/query/query16.sql — shipping audit):
    count-distinct orders in a 60-day window with an EXISTS
    (another supplier shipped the same order) and a NOT EXISTS (no line
    of the order was returned). The correlated pair decorelates to one
    left-semi + one left-anti on the order key. Distinct from tpcds_q95:
    this is the EXISTS/NOT EXISTS face (Catalyst MARK/ANTI-MARK path),
    q95 is the IN-against-CTE face.

    Scale shape: both subqueries reduce to key-set joins on l_orderkey —
    the semi side pre-aggregated (count distinct supp >= 2 equivalent via
    pair-free groupBy), the anti side a DISTINCT key set; each shares the
    fact's own shuffle key, so no new shuffle dimension appears."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    # EXISTS + NOT EXISTS fuse into ONE per-orderkey aggregate: the kept
    # keys are exactly {ns >= 2 AND no returned line}, so the old semi
    # (multi-supplier) + anti (returned) pair becomes a single semi join
    # against one key set — one fact aggregate instead of two, 3 fact
    # scans -> 2 (the q95 collapse applied to the MARK/ANTI-MARK face).
    keys = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("mn"),
            F.max("l_suppkey").alias("mx"),
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "has_ret"
            ),
        )
        # min != max == ">= 2 distinct suppliers" without the Expand a
        # countDistinct-plus-aggregate plan pays (see q95)
        .filter((F.col("mn") != F.col("mx")) & (F.col("has_ret") == 0))
        .select("l_orderkey")
    )
    sel = (
        li.join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= ts("1996-06-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-31").cast("timestamp"))
        )
        .join(cust, ords.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") >= 20)
        .join(keys.hint("shuffle_hash"), "l_orderkey", "left_semi")
    )
    return sel.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("order_count"),
        F.sum(dec("l_extendedprice")).cast("double").alias("total_ship_cost"),
        F.sum(rev_col()).cast("double").alias("total_net"),
    )


# ---------------------------------------------------------------------------
# q21 shape: inventory before/after pivot-date band
# ---------------------------------------------------------------------------

_TPCDS_Q21_SQL = """
WITH x AS (
  SELECT s_name, p_name,
         SUM(CASE WHEN l_shipdate <  DATE '1997-06-22'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS inv_before,
         SUM(CASE WHEN l_shipdate >= DATE '1997-06-22'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS inv_after
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE)
          BETWEEN 900.0 AND 1100.0
    AND l_shipdate BETWEEN DATE '1997-06-22' - INTERVAL 30 DAY
                       AND DATE '1997-06-22' + INTERVAL 30 DAY
  GROUP BY s_name, p_name
)
SELECT s_name, p_name,
       CAST(inv_before AS BIGINT) AS inv_before,
       CAST(inv_after AS BIGINT) AS inv_after
FROM x
WHERE (CASE WHEN inv_before > 0
            THEN CAST(inv_after AS DOUBLE) / CAST(inv_before AS DOUBLE)
            ELSE NULL END) BETWEEN 2.0/3.0 AND 3.0/2.0
ORDER BY s_name, p_name
LIMIT 100
"""


@register("tpcds_q21", oracle=_TPCDS_Q21_SQL, tags=("tpcds", "pivot"))
def tpcds_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q21 shape (cases/tpcds/query/query21.sql — inventory
    before/after pivot): quantity on hand per warehouse x item in the 30
    days before vs after a pivot date, keeping pairs whose after/before
    ratio stays within [2/3, 3/2]. Re-targeted: warehouse = supplier,
    inventory movement = lineitem quantity by ship date, price band on
    p_retailprice.

    Scale shape: the date band prunes the scan (pushdown-gated pattern),
    the price band prunes part before a broadcast join, and the pivot is
    a conditional aggregate — one shuffle on (s_name, p_name), partials
    map-side. The ratio filter runs on the aggregate only."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").filter(
        dec("p_retailprice").cast("double").between(900.0, 1100.0)
    )
    sup = table(spark, sf_dir, "supplier")
    pivot = ts("1997-06-22")
    x = (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1997-05-23").cast("timestamp"),
                F.lit("1997-07-22").cast("timestamp"),
            )
        )
        .join(F.broadcast(pt.select("p_partkey", "p_name")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup.select("s_suppkey", "s_name")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name", "p_name")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") < pivot, F.col("l_quantity").cast("bigint"))
                .otherwise(0)
            ).alias("inv_before"),
            F.sum(
                F.when(F.col("l_shipdate") >= pivot, F.col("l_quantity").cast("bigint"))
                .otherwise(0)
            ).alias("inv_after"),
        )
    )
    ratio = F.when(
        F.col("inv_before") > 0,
        F.col("inv_after").cast("double") / F.col("inv_before").cast("double"),
    )
    return (
        x.filter(ratio.between(2.0 / 3.0, 3.0 / 2.0))
        .select(
            "s_name", "p_name",
            F.col("inv_before").cast("bigint").alias("inv_before"),
            F.col("inv_after").cast("bigint").alias("inv_after"),
        )
        .orderBy("s_name", "p_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q66 shape: wide multi-measure monthly pivot over a carrier union
# ---------------------------------------------------------------------------

_MONTHS = [
    "jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec",
]

_TPCDS_Q66_SQL = f"""
WITH seg AS (
  SELECT s_name, year(l_shipdate) AS yr, month(l_shipdate) AS mo,
         {REV_SQL} AS rev,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_linestatus IN ('O', 'F') AND year(l_shipdate) = 1997
)
SELECT s_name, yr,
{", ".join(f'''  CAST(SUM(CASE WHEN mo = {i + 1} THEN rev ELSE 0 END) AS DOUBLE)
    AS {m}_sales''' for i, m in enumerate(_MONTHS))},
{", ".join(f'''  CAST(SUM(CASE WHEN mo = {i + 1} THEN qty ELSE 0 END) AS BIGINT)
    AS {m}_qty''' for i, m in enumerate(_MONTHS))}
FROM seg
GROUP BY s_name, yr
ORDER BY s_name, yr
LIMIT 100
"""


@register("tpcds_q66", oracle=_TPCDS_Q66_SQL, tags=("tpcds", "pivot"))
def tpcds_q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q66 shape (cases/tpcds/query/query66.sql — the 24-measure
    warehouse/month pivot): one pass over the fact produces TWELVE monthly
    columns x TWO measures per warehouse-year. Re-targeted: warehouse =
    supplier, measures = revenue and quantity.

    Scale shape: all 24 aggregates are conditional branches of ONE
    grouped aggregate — one scan, one shuffle of (s_name, yr) group
    states with 24-wide partials, no per-month scans and no union. The
    spec's two-carrier inner UNION collapses for the same reason the
    q33 channels did: identical measures over one fact."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_linestatus").isin("O", "F") & (F.year("l_shipdate") == 1997)
    )
    sup = table(spark, sf_dir, "supplier")
    mo = F.month("l_shipdate")
    aggs = []
    for i, m in enumerate(_MONTHS):
        aggs.append(
            F.sum(F.when(mo == i + 1, rev_col()).otherwise(F.lit(0)))
            .cast("double")
            .alias(f"{m}_sales")
        )
    for i, m in enumerate(_MONTHS):
        aggs.append(
            F.sum(
                F.when(mo == i + 1, F.col("l_quantity").cast("bigint")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias(f"{m}_qty")
        )
    return (
        li.join(F.broadcast(sup.select("s_suppkey", "s_name")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name", F.year("l_shipdate").alias("yr"))
        .agg(*aggs)
        .orderBy("s_name", "yr")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q8 shape: literal prefix set INTERSECT aggregate-derived prefix set
# ---------------------------------------------------------------------------

_TPCDS_Q8_CODES = "('0', '2', '3', '5', '7', '8')"

_TPCDS_Q8_SQL = f"""
WITH wanted AS (
  SELECT substring(c_name, -1, 1) AS code FROM customer
  WHERE substring(c_name, -1, 1) IN {_TPCDS_Q8_CODES}
  INTERSECT
  SELECT substring(c_name, -1, 1) AS code FROM customer
  WHERE c_acctbal > 0 GROUP BY 1 HAVING COUNT(*) >= 5
)
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS net,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE substring(c_name, -1, 1) IN (SELECT code FROM wanted)
  AND year(o_orderdate) = 1997
GROUP BY n_name
ORDER BY n_name
"""


@register("tpcds_q8", oracle=_TPCDS_Q8_SQL, tags=("tpcds", "setop-subquery"))
def tpcds_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q8 shape (cases/tpcds/query/query8.sql — store revenue for
    zip prefixes that are BOTH in a literal list AND home to >= 10
    qualifying customers): a literal prefix set INTERSECTed with an
    aggregate-derived set, driving a semi join on the fact path.
    Re-targeted: zip prefix = the customer name's trailing digit
    (the slimmed fixture carries no c_phone), store = customer nation,
    preferred customers = positive-balance accounts.

    Scale shape: both INTERSECT arms are customer-dimension aggregates
    (output <= |codes|, broadcast); the fact path is one orders shuffle
    joined to customer and the prefix semi join — no new shuffle
    dimension from the subquery machinery."""
    cust = table(spark, sf_dir, "customer")
    code = F.substring("c_name", -1, 1)
    arm1 = cust.filter(
        code.isin("0", "2", "3", "5", "7", "8")
    ).select(code.alias("code"))
    arm2 = (
        cust.filter(F.col("c_acctbal") > 0)
        .groupBy(code.alias("code"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .select("code")
    )
    wanted = arm1.intersect(arm2)
    ords = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    nat = table(spark, sf_dir, "nation")
    return (
        ords.join(cust.hint("shuffle_hash"), ords.o_custkey == cust.c_custkey)
        .join(F.broadcast(wanted), code == F.col("code"), "left_semi")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("net"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q62/q99 shape: shipping-lag bucket histogram
# ---------------------------------------------------------------------------

_TPCDS_Q62_SQL = """
SELECT o_orderpriority, year(o_orderdate) AS yr,
       CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS d30,
       CAST(SUM(CASE WHEN lag_days > 30 AND lag_days <= 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS d60,
       CAST(SUM(CASE WHEN lag_days > 60 AND lag_days <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS d90,
       CAST(SUM(CASE WHEN lag_days > 90 AND lag_days <= 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS d120,
       CAST(SUM(CASE WHEN lag_days > 120 THEN 1 ELSE 0 END) AS BIGINT)
         AS dmore
FROM (
  SELECT o_orderpriority, o_orderdate,
         CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
) x
GROUP BY o_orderpriority, yr
ORDER BY o_orderpriority, yr
"""


@register("tpcds_q62", oracle=_TPCDS_Q62_SQL, tags=("tpcds", "histogram"))
def tpcds_q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q62/q99 shape (cases/tpcds/query/query62.sql — the
    shipping-lag bucket histogram): count shipments falling into 30-day
    lag buckets per group. Re-targeted: lag = order date -> ship date,
    group = order priority x year.

    Scale shape: the bucket CASEs are branches of one grouped aggregate —
    a single fact-pair shuffle on the order key, then map-side partials
    into a priorities x years group space. No per-bucket scans."""
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))

    def bucket(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    return (
        li.join(ords.hint("shuffle_hash"), li.l_orderkey == ords.o_orderkey)
        .groupBy("o_orderpriority", F.year("o_orderdate").alias("yr"))
        .agg(
            bucket(lag <= 30, "d30"),
            bucket((lag > 30) & (lag <= 60), "d60"),
            bucket((lag > 60) & (lag <= 90), "d90"),
            bucket((lag > 90) & (lag <= 120), "d120"),
            bucket(lag > 120, "dmore"),
        )
        .orderBy("o_orderpriority", "yr")
    )


# ---------------------------------------------------------------------------
# q45 shape: OR of a plain predicate and an uncorrelated IN subquery
# (the ExistenceJoin plan — neither arm can be filtered into a pure semi)
# ---------------------------------------------------------------------------

_TPCDS_Q45_SQL = f"""
SELECT n_name, year(o_orderdate) AS yr,
       CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN part     ON l_partkey = p_partkey
WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
   OR l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 47)
GROUP BY n_name, yr
ORDER BY n_name, yr
"""


@register("tpcds_q45", oracle=_TPCDS_Q45_SQL, tags=("tpcds", "existence-join"))
def tpcds_q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q45 shape (cases/tpcds/query/query45.sql — ``zip IN (...)
    OR item IN (subquery)``): an OR that mixes a plain predicate with an
    uncorrelated IN subquery, so neither arm can become a standalone
    semi join — Catalyst plans an ExistenceJoin feeding the disjunction.
    Re-targeted: brand literal list OR membership in the large-size part
    set.

    Scale shape: the IN set is a part-dimension aggregate (broadcast
    existence join tagging each row, no fact duplication); the fact path
    keeps its own key shuffles. Expressed via spark.sql so the OR-IN
    lands in Catalyst's subquery planner exactly as written."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_q45")
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_q45")
    table(spark, sf_dir, "customer").createOrReplaceTempView("cust_q45")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nat_q45")
    table(spark, sf_dir, "part").createOrReplaceTempView("part_q45")
    return spark.sql(
        """
        SELECT n_name, year(o_orderdate) AS yr,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - CAST(l_discount AS DECIMAL(18,2))
                               AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        FROM li_q45
        JOIN ord_q45  ON l_orderkey = o_orderkey
        JOIN cust_q45 ON o_custkey = c_custkey
        JOIN nat_q45  ON c_nationkey = n_nationkey
        JOIN part_q45 ON l_partkey = p_partkey
        WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
           OR l_partkey IN (SELECT p_partkey FROM part_q45 WHERE p_size > 47)
        GROUP BY n_name, yr
        ORDER BY n_name, yr
        """
    )


# ---------------------------------------------------------------------------
# q92 shape: excess discount — correlated per-item average threshold on the
# FACT itself (q6 thresholds a dimension attribute; this one thresholds a
# fact measure against the same fact's correlated window)
# ---------------------------------------------------------------------------

_TPCDS_Q92_SQL = """
WITH win AS (
  SELECT l_partkey,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(l_discount AS DECIMAL(18,2)) AS disc_amt
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-02-01'
    AND l_shipdate <  DATE '1997-02-01' + INTERVAL 90 DAY
),
avg_by_part AS (
  SELECT l_partkey,
         CAST(SUM(disc_amt) AS DOUBLE) / COUNT(*) AS avg_disc
  FROM win GROUP BY l_partkey
)
SELECT CAST(SUM(w.disc_amt) AS DOUBLE) AS excess_discount
FROM win w JOIN avg_by_part a ON w.l_partkey = a.l_partkey
WHERE CAST(w.disc_amt AS DOUBLE) > 1.3 * a.avg_disc
"""


@register("tpcds_q92", oracle=_TPCDS_Q92_SQL, tags=("tpcds", "correlated-agg"))
def tpcds_q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q92 shape (cases/tpcds/query/query92.sql — "excess discount
    amount"): sum the discount amounts that exceed 1.3x the SAME item's
    average discount over the same window — a correlated aggregate whose
    subject is the fact measure itself. Re-targeted: discount amount =
    l_extendedprice * l_discount, 90-day ship window.

    Scale shape: the correlated average decorrelates to a per-part
    aggregate of the SAME filtered scan, joined back on the part key —
    both sides share the window filter, the join is key-partitioned, and
    the final sum is a scalar. Exact decimal sums; only the threshold
    compare and output run in double (identical expression both sides)."""
    win = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= ts("1997-02-01"))
            & (F.col("l_shipdate") < ts("1997-05-02"))
            & F.col("l_partkey").isNotNull()
        )
        .select(
            "l_partkey",
            (dec("l_extendedprice") * dec("l_discount")).alias("disc_amt"),
        )
    )
    # The per-part average joined back to the SAME filtered slice is a
    # window aggregate: one scan + one (l_partkey) exchange instead of two
    # scans + two exchanges + the key join (guide §2.4). Identical math —
    # the window SUM is the same exact decimal sum the groupBy produced,
    # divided by the same count. Per-part groups are uniform (no skew key).
    # A window keeps a NULL l_partkey group that the join drops, hence the
    # IS NOT NULL above.
    w = Window.partitionBy("l_partkey")
    avg_disc = (
        F.sum("disc_amt").over(w).cast("double") / F.count(F.lit(1)).over(w)
    )
    return (
        win.withColumn("avg_disc", avg_disc)
        .filter(F.col("disc_amt").cast("double") > 1.3 * F.col("avg_disc"))
        .agg(F.sum("disc_amt").cast("double").alias("excess_discount"))
    )


# ---------------------------------------------------------------------------
# q37/q82 shape: aggregate-banded item set semi-joined to the sales fact
# ---------------------------------------------------------------------------

_TPCDS_Q37_SQL = """
WITH banded AS (
  SELECT l_partkey
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01'
    AND l_shipdate <  DATE '1998-01-01'
  GROUP BY l_partkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) BETWEEN 50 AND 400
)
SELECT p_name, p_brand,
       CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM part
JOIN banded ON p_partkey = l_partkey
WHERE CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE)
        BETWEEN 905.0 AND 999.0
  AND p_brand IN ('Brand#12', 'Brand#23', 'Brand#34', 'Brand#45')
GROUP BY p_name, p_brand, price
ORDER BY p_name, p_brand, price
LIMIT 100
"""


@register("tpcds_q37", oracle=_TPCDS_Q37_SQL, tags=("tpcds", "band-semi"))
def tpcds_q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q37/q82 shape (cases/tpcds/query/query37.sql — items in a
    price band whose INVENTORY in a date window sits inside a quantity
    band, listed if they sold at all): an aggregate-banded key set drives
    a dimension listing. Re-targeted: inventory = shipped quantity per
    part in the window, manufacturer list = brand list.

    Scale shape: the quantity band is a HAVING on a per-part aggregate
    (one fact shuffle on its own key, map-side partials); the dimension
    side filters by band + brand BEFORE the join, and the final GROUP BY
    dedups the listing without touching the fact again."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts("1997-01-01"))
        & (F.col("l_shipdate") < ts("1998-01-01"))
    )
    banded = (
        li.groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q").between(50, 400))
        .select("l_partkey")
    )
    price = dec("p_retailprice").cast("double")
    pt = table(spark, sf_dir, "part").filter(
        price.between(905.0, 999.0)
        & F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34", "Brand#45")
    )
    return (
        pt.join(F.broadcast(banded), pt.p_partkey == banded.l_partkey)
        .groupBy("p_name", "p_brand", price.alias("price"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .drop("__n")
        .orderBy("p_name", "p_brand", "price")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# sql_tpcds_verbatim_q51: the reference's OWN query51.sql text through the
# SQL front door (the r9 sql_tpch_verbatim_q21 recipe applied to the TPC-DS
# corpus the reference ships but cannot run — no window operator,
# expr_properties.go:273). q51 is the hardest window text: two per-channel
# running sums over grouped aggregates, full-outer-joined, then running
# MAXes compared for the crossover. The TEXT runs unmodified; the driver
# fixture is mapped into the spec star schema deterministically and
# identically on both engines:
#   web_sales   = even-linenumber lineitem slice (item=partkey as
#                 BIGINT — scaled fixtures offset keys past int32, date=ship)
#   store_sales = odd-linenumber slice
#   date_dim    = distinct ship dates; d_date_sk = days-since-epoch;
#                 d_month_seq = (year-1895)*12 + month-1, which places
#                 1996 (mid-span of the fixture's 1995-2001 ship dates)
#                 exactly in the text's [1212, 1223] window.
# Money is cast to DECIMAL(18,2) at derivation, so every sum in the text
# is exact and shuffle-order-proof (queries/common.py discipline); the
# final ORDER BY item_sk, d_date is a total order (group keys), so LIMIT
# 100 is deterministic.
# ---------------------------------------------------------------------------

_TPCDS_Q51_VERBATIM = """
WITH web_v1 as (
select
  ws_item_sk item_sk, d_date,
  sum(sum(ws_sales_price))
      over (partition by ws_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
from web_sales
    ,date_dim
where ws_sold_date_sk=d_date_sk
  and d_month_seq between 1212 and 1212+11
  and ws_item_sk is not NULL
group by ws_item_sk, d_date),
store_v1 as (
select
  ss_item_sk item_sk, d_date,
  sum(sum(ss_sales_price))
      over (partition by ss_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
from store_sales
    ,date_dim
where ss_sold_date_sk=d_date_sk
  and d_month_seq between 1212 and 1212+11
  and ss_item_sk is not NULL
group by ss_item_sk, d_date)
 select  *
from (select item_sk
     ,d_date
     ,web_sales
     ,store_sales
     ,max(web_sales)
         over (partition by item_sk order by d_date rows between unbounded preceding and current row) web_cumulative
     ,max(store_sales)
         over (partition by item_sk order by d_date rows between unbounded preceding and current row) store_cumulative
     from (select case when web.item_sk is not null then web.item_sk else store.item_sk end item_sk
                 ,case when web.d_date is not null then web.d_date else store.d_date end d_date
                 ,web.cume_sales web_sales
                 ,store.cume_sales store_sales
           from web_v1 web full outer join store_v1 store on (web.item_sk = store.item_sk
                                                          and web.d_date = store.d_date)
          )x )y
where web_cumulative > store_cumulative
order by item_sk
        ,d_date
limit 100;
"""

_TPCDS_Q51_SQL = """
WITH web_sales AS (
  SELECT CAST(l_partkey AS BIGINT) AS ws_item_sk,
         DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           AS ws_sold_date_sk,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS ws_sales_price
  FROM main.lineitem WHERE l_linenumber % 2 = 0
),
store_sales AS (
  SELECT CAST(l_partkey AS BIGINT) AS ss_item_sk,
         DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           AS ss_sold_date_sk,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS ss_sales_price
  FROM main.lineitem WHERE l_linenumber % 2 = 1
),
date_dim AS (
  SELECT DISTINCT
         DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           AS d_date_sk,
         CAST(l_shipdate AS DATE) AS d_date,
         (year(l_shipdate) - 1895) * 12 + month(l_shipdate) - 1 AS d_month_seq
  FROM main.lineitem
),
web_v1 as (
select
  ws_item_sk item_sk, d_date,
  sum(sum(ws_sales_price))
      over (partition by ws_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
from web_sales
    ,date_dim
where ws_sold_date_sk=d_date_sk
  and d_month_seq between 1212 and 1212+11
  and ws_item_sk is not NULL
group by ws_item_sk, d_date),
store_v1 as (
select
  ss_item_sk item_sk, d_date,
  sum(sum(ss_sales_price))
      over (partition by ss_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
from store_sales
    ,date_dim
where ss_sold_date_sk=d_date_sk
  and d_month_seq between 1212 and 1212+11
  and ss_item_sk is not NULL
group by ss_item_sk, d_date)
 select  *
from (select item_sk
     ,d_date
     ,web_sales
     ,store_sales
     ,max(web_sales)
         over (partition by item_sk order by d_date rows between unbounded preceding and current row) web_cumulative
     ,max(store_sales)
         over (partition by item_sk order by d_date rows between unbounded preceding and current row) store_cumulative
     from (select case when web.item_sk is not null then web.item_sk else store.item_sk end item_sk
                 ,case when web.d_date is not null then web.d_date else store.d_date end d_date
                 ,web.cume_sales web_sales
                 ,store.cume_sales store_sales
           from web_v1 web full outer join store_v1 store on (web.item_sk = store.item_sk
                                                          and web.d_date = store.d_date)
          )x )y
where web_cumulative > store_cumulative
order by item_sk
        ,d_date
limit 100
"""

# driver-hash discipline (queries/common.py): outputs are DOUBLE, never
# DECIMAL — DuckDB's .df() floats wide decimals while Spark returns
# Decimal objects. The verbatim text's decimal money stays EXACT through
# every sum/max; only the returned columns are cast.
_TPCDS_Q51_SQL = f"""
SELECT item_sk, d_date,
       CAST(web_sales AS DOUBLE) AS web_sales,
       CAST(store_sales AS DOUBLE) AS store_sales,
       CAST(web_cumulative AS DOUBLE) AS web_cumulative,
       CAST(store_cumulative AS DOUBLE) AS store_cumulative
FROM ({_TPCDS_Q51_SQL.rstrip()}) verbatim_out
ORDER BY item_sk, d_date
"""


@register(
    "sql_tpcds_verbatim_q51",
    oracle=_TPCDS_Q51_SQL,
    tags=("engine", "sql", "tpcds", "window"),
)
def sql_tpcds_verbatim_q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN query51.sql text through the SQL front door
    (cases/tpcds/query/query51.sql — unrunnable by the reference: no
    window operator, expr_properties.go:273). The text runs UNMODIFIED on
    spec-schema tables derived deterministically from the driver fixture;
    the oracle derives the SAME tables in its CTE prologue (see the
    module-level mapping comment). tests/test_tpcds_verbatim.py runs ALL
    99 spec texts on a full-schema micro-fixture; this row keeps the
    corpus' hardest window text on the driver's hash-checked path."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from plan_spark.engine import Engine

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = _os.path.join(
        _tempfile.gettempdir(), "plan_spark_q", f"sql_tpcds_verbatim_q51_{tag}"
    )
    _shutil.rmtree(path, ignore_errors=True)
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_partkey").cast("bigint").alias("item_sk"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("date_sk"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        (F.col("l_linenumber") % 2).alias("par"),
    )
    web = base.filter("par = 0").select(
        F.col("item_sk").alias("ws_item_sk"),
        F.col("date_sk").alias("ws_sold_date_sk"),
        F.col("price").alias("ws_sales_price"),
    )
    store = base.filter("par = 1").select(
        F.col("item_sk").alias("ss_item_sk"),
        F.col("date_sk").alias("ss_sold_date_sk"),
        F.col("price").alias("ss_sales_price"),
    )
    date_dim = (
        li.select(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("d_date_sk"),
            F.col("l_shipdate").cast("date").alias("d_date"),
            (
                (F.year("l_shipdate") - F.lit(1895)) * 12 + F.month("l_shipdate") - 1
            ).cast("int").alias("d_month_seq"),
        )
        .distinct()
    )
    eng = Engine(spark, path)
    for name, df in (
        ("web_sales", web),
        ("store_sales", store),
        ("date_dim", date_dim),
    ):
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        eng.create_table(name, ddl)
        eng.insert_df(name, df)
    text = verbatim_text(
        "/root/reference/cases/tpcds/query/query51.sql", _TPCDS_Q51_VERBATIM
    )
    res = eng.sql(text)
    # driver-hash discipline: DOUBLE outputs (decimal math stayed exact
    # inside the verbatim plan; see _TPCDS_Q51_SQL's identical outer cast)
    return res.select(
        "item_sk", "d_date",
        F.col("web_sales").cast("double").alias("web_sales"),
        F.col("store_sales").cast("double").alias("store_sales"),
        F.col("web_cumulative").cast("double").alias("web_cumulative"),
        F.col("store_cumulative").cast("double").alias("store_cumulative"),
    )


# ---------------------------------------------------------------------------
# The last four genuinely-new TPC-DS shapes outside the probe map (r9
# verdict #3): q24 (returns-chain + %-of-corpus-average threshold), q76
# (null-channel union accounting), q83 (three-set date-recursion
# intersect), q18 (rollup over decimal averages). Re-targeted at the
# driver fixture star schema like every probe in this module; the REAL
# texts additionally run verbatim in tests/test_tpcds_verbatim.py.
# ---------------------------------------------------------------------------

_TPCDS_Q24_SQL = """
WITH ssales AS (
  SELECT c_name, s_name, p_brand,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS netpaid
  FROM lineitem, orders, customer, part, supplier
  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND l_partkey = p_partkey AND l_suppkey = s_suppkey
    AND l_returnflag = 'R'
  GROUP BY c_name, s_name, p_brand
),
brandpaid AS (
  SELECT c_name, s_name, SUM(netpaid) AS paid_dec
  FROM ssales WHERE p_brand = 'Brand#23'
  GROUP BY c_name, s_name
),
thr AS (
  SELECT CAST(SUM(netpaid) AS DOUBLE) / COUNT(*) AS avg_paid FROM ssales
)
SELECT c_name, s_name, CAST(paid_dec AS DOUBLE) AS paid
FROM brandpaid, thr
WHERE CAST(paid_dec AS DOUBLE) > 0.05 * avg_paid
ORDER BY c_name, s_name
"""


@register("tpcds_q24", oracle=_TPCDS_Q24_SQL, tags=("tpcds",))
def tpcds_q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q24 shape (cases/tpcds/query/query24.sql — the returns-chain
    CTE reused by an aggregate face AND a corpus-wide scalar threshold):
    returned sales netpaid per (customer, supplier, brand); buyers of one
    brand whose spend beats 5% of the CTE-wide average.

    Scale shape: the CTE materializes ONCE (persist) and feeds both faces;
    the threshold is a single aggregate row attached by broadcast cross
    join — the spec's correlated scalar subquery with no per-row rescan.
    The verbatim text (incl. the 5%-of-avg HAVING) runs in
    tests/test_tpcds_verbatim.py on the full star schema."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    ssales = (
        # the fact-fact join is PINNED to shuffle: at bench SF the 2-column
        # orders scan compresses under AQE's dynamic-broadcast threshold,
        # and a broadcast fact is exactly the plan the 100 TB gate forbids
        li.filter(F.col("l_returnflag") == "R")
        .join(o.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("c_name", "s_name", "p_brand")
        .agg(F.sum(dec("l_extendedprice")).alias("netpaid"))
        .persist()
    )
    thr = ssales.agg(
        (F.sum("netpaid").cast("double") / F.count(F.lit(1))).alias("avg_paid")
    )
    out = (
        ssales.filter(F.col("p_brand") == "Brand#23")
        .groupBy("c_name", "s_name")
        .agg(F.sum("netpaid").alias("paid_dec"))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("paid_dec").cast("double") > 0.05 * F.col("avg_paid"))
        .select("c_name", "s_name", F.col("paid_dec").cast("double").alias("paid"))
        .orderBy("c_name", "s_name")
    )
    return out


_TPCDS_Q76_SQL = """
SELECT channel, col_name, yr, qtr, l_returnflag,
       COUNT(*) AS sales_cnt,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales_amt
FROM (
  SELECT 'store' AS channel, 's_suppkey' AS col_name,
         year(l_shipdate) AS yr, quarter(l_shipdate) AS qtr,
         l_returnflag, l_extendedprice
  FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM supplier
                    WHERE s_suppkey = l.l_suppkey AND s_acctbal >= 9000)
  UNION ALL
  SELECT 'web' AS channel, 'p_partkey' AS col_name,
         year(l_shipdate) AS yr, quarter(l_shipdate) AS qtr,
         l_returnflag, l_extendedprice
  FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM part
                    WHERE p_partkey = l.l_partkey AND p_size <= 5)
  UNION ALL
  SELECT 'catalog' AS channel, 'c_custkey' AS col_name,
         year(l_shipdate) AS yr, quarter(l_shipdate) AS qtr,
         l_returnflag, l_extendedprice
  FROM lineitem l JOIN orders ON l.l_orderkey = o_orderkey
  WHERE NOT EXISTS (SELECT 1 FROM customer
                    WHERE c_custkey = o_custkey AND c_acctbal >= 0)
) foo
GROUP BY channel, col_name, yr, qtr, l_returnflag
ORDER BY channel, col_name, yr, qtr, l_returnflag
"""


@register("tpcds_q76", oracle=_TPCDS_Q76_SQL, tags=("tpcds",))
def tpcds_q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q76 shape (cases/tpcds/query/query76.sql — null-channel
    accounting: per channel, the sales UNATTRIBUTABLE to a different
    dimension, union-all'd and aggregated). The fixture has no NULL fks,
    so each arm's IS NULL becomes its join-semantic equal: a LEFT ANTI
    against the qualifying dimension subset.

    Scale shape: three anti joins (broadcast — the dimension subsets are
    small), one union, one aggregate; the fact never self-joins and the
    anti dimensions never shuffle the fact. Verbatim q76 (real NULL fks)
    runs in tests/test_tpcds_verbatim.py."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    sup = table(spark, sf_dir, "supplier").filter("s_acctbal >= 9000")
    prt = table(spark, sf_dir, "part").filter("p_size <= 5")
    cst = table(spark, sf_dir, "customer").filter("c_acctbal >= 0")

    grp = [
        F.year("l_shipdate").alias("yr"),
        F.quarter("l_shipdate").alias("qtr"),
        F.col("l_returnflag"),
    ]
    # The store and web arms are the SAME fact scan with different anti
    # dimensions: replace the two anti joins + union with ONE scan carrying
    # both membership marks (left joins against the unique-keyed dimension
    # subsets), a conditional aggregate per mark, and a stack() unpivot of
    # the O(groups) aggregate back into channel rows. A group row exists in
    # the union-all aggregate iff its arm has >= 1 row == its conditional
    # count > 0, and each arm's count/sum see exactly the rows its anti
    # join kept. 3 fact scans -> 2, one fewer union leg (guide §2.4, the
    # q83 fuse applied to the anti-join union). The catalog arm keeps its
    # own scan: it alone needs the orders join.
    sup_k = sup.select(F.col("s_suppkey").alias("mk_supp"))
    prt_k = prt.select(F.col("p_partkey").alias("mk_part"))
    base = (
        li.join(F.broadcast(sup_k), F.col("l_suppkey") == F.col("mk_supp"), "left")
        .join(F.broadcast(prt_k), F.col("l_partkey") == F.col("mk_part"), "left")
        .groupBy(*grp)
        .agg(
            F.sum(F.when(F.col("mk_supp").isNull(), 1).otherwise(0)).alias("store_cnt"),
            F.sum(F.when(F.col("mk_supp").isNull(), dec("l_extendedprice"))).alias("store_amt"),
            F.sum(F.when(F.col("mk_part").isNull(), 1).otherwise(0)).alias("web_cnt"),
            F.sum(F.when(F.col("mk_part").isNull(), dec("l_extendedprice"))).alias("web_amt"),
        )
    )
    store_web = base.select(
        F.expr(
            "stack(2, 'store', 's_suppkey', store_cnt, store_amt,"
            " 'web', 'p_partkey', web_cnt, web_amt)"
            " AS (channel, col_name, sales_cnt, amt_dec)"
        ),
        "yr",
        "qtr",
        "l_returnflag",
    ).filter(F.col("sales_cnt") > 0)
    catalog = (
        # fact-fact join pinned to shuffle (same 100 TB discipline as q24:
        # the 2-column orders scan would dynamic-broadcast at bench SF)
        li.join(o.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cst), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(*grp)
        .agg(
            F.count(F.lit(1)).alias("sales_cnt"),
            F.sum(dec("l_extendedprice")).alias("amt_dec"),
        )
        .select(
            F.lit("catalog").alias("channel"),
            F.lit("c_custkey").alias("col_name"),
            "yr",
            "qtr",
            "l_returnflag",
            "sales_cnt",
            "amt_dec",
        )
    )
    return (
        store_web.select(
            "channel", "col_name", "yr", "qtr", "l_returnflag", "sales_cnt", "amt_dec"
        )
        .unionByName(catalog)
        .select(
            "channel",
            "col_name",
            "yr",
            "qtr",
            "l_returnflag",
            "sales_cnt",
            F.col("amt_dec").cast("double").alias("sales_amt"),
        )
        .orderBy("channel", "col_name", "yr", "qtr", "l_returnflag")
    )


_TPCDS_Q83_DATES = (
    "1996-03-14", "1996-09-03", "1997-07-02",
    "1997-11-20", "1998-10-20", "1999-05-11",
)

_TPCDS_Q83_SQL = """
WITH weeks AS (
  SELECT DISTINCT date_trunc('week', CAST(d AS DATE)) AS wk
  FROM (VALUES {dates}) AS t(d)
),
dates AS (
  SELECT DISTINCT CAST(l_shipdate AS DATE) AS d_date
  FROM lineitem
  WHERE date_trunc('week', CAST(l_shipdate AS DATE))
        IN (SELECT wk FROM weeks)
),
-- sums cast back to BIGINT: DuckDB's SUM(BIGINT) is HUGEINT, which
-- pandas floats ('388.0' vs Spark's '388' under the driver's string hash)
r_items AS (
  SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r_qty
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND l_returnflag = 'R'
    AND CAST(l_shipdate AS DATE) IN (SELECT d_date FROM dates)
  GROUP BY p_brand
),
a_items AS (
  SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS a_qty
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND l_returnflag = 'A'
    AND CAST(l_shipdate AS DATE) IN (SELECT d_date FROM dates)
  GROUP BY p_brand
),
n_items AS (
  SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS n_qty
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND l_returnflag = 'N'
    AND CAST(l_shipdate AS DATE) IN (SELECT d_date FROM dates)
  GROUP BY p_brand
)
SELECT r_items.p_brand AS p_brand, r_qty, a_qty, n_qty,
       CAST(r_qty AS DOUBLE) / (r_qty + a_qty + n_qty) / 3.0 * 100 AS r_dev,
       CAST(a_qty AS DOUBLE) / (r_qty + a_qty + n_qty) / 3.0 * 100 AS a_dev,
       CAST(n_qty AS DOUBLE) / (r_qty + a_qty + n_qty) / 3.0 * 100 AS n_dev,
       (r_qty + a_qty + n_qty) / 3.0 AS average
FROM r_items, a_items, n_items
WHERE r_items.p_brand = a_items.p_brand
  AND r_items.p_brand = n_items.p_brand
ORDER BY p_brand
""".format(dates=", ".join(f"('{d}')" for d in _TPCDS_Q83_DATES))


@register("tpcds_q83", oracle=_TPCDS_Q83_SQL, tags=("tpcds",))
def tpcds_q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q83 shape (cases/tpcds/query/query83.sql — the three-set
    date-recursion intersect): per-brand quantities in three channel
    slices restricted to the dates of the WEEKS containing six probe
    dates (the spec's date IN (weeks of (dates)) two-level nesting),
    3-way equijoined with cross-channel deviation percentages.

    Scale shape (r10 verdict #8): the spec's three channel CTEs inner-
    joined on brand are equivalently ONE grouped conditional aggregate —
    three flag-guarded sums + a non-null HAVING (a brand survives the
    3-way inner join iff every channel produced a group) — so the fact
    table is scanned once for the channels instead of three times
    (l_returnflag ∈ {R,A,N} covers every row, so the fused scan needs no
    flag filter at all). The date recursion stays the spec's shape: a
    tiny broadcast semi join against the distinct dates of six weeks,
    derived from a single-column (l_shipdate-only, column-pruned)
    pass — the q31/q38 precedent. The verbatim text runs in
    tests/test_tpcds_verbatim.py."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    wk_lits = [F.date_trunc("week", F.lit(d).cast("date")) for d in _TPCDS_Q83_DATES]
    # week membership as an OR chain of column literals (isin takes plain
    # values, not Columns) — six terms, constant-folded by Catalyst
    cond = None
    for w in wk_lits:
        c = F.date_trunc("week", F.col("d_date")) == w
        cond = c if cond is None else (cond | c)
    dates = (
        li.select(F.col("l_shipdate").cast("date").alias("d_date"))
        .distinct()
        .filter(cond)
    )

    def guarded(flag, alias):
        return F.sum(
            F.when(
                F.col("l_returnflag") == flag,
                F.col("l_quantity").cast("bigint"),
            )
        ).alias(alias)

    fused = (
        li.join(
            F.broadcast(dates),
            F.col("l_shipdate").cast("date") == F.col("d_date"),
            "left_semi",
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(guarded("R", "r_qty"), guarded("A", "a_qty"), guarded("N", "n_qty"))
        .filter(
            F.col("r_qty").isNotNull()
            & F.col("a_qty").isNotNull()
            & F.col("n_qty").isNotNull()
        )
    )
    tot = F.col("r_qty") + F.col("a_qty") + F.col("n_qty")
    return fused.select(
        "p_brand", "r_qty", "a_qty", "n_qty",
        (F.col("r_qty").cast("double") / tot / 3.0 * 100).alias("r_dev"),
        (F.col("a_qty").cast("double") / tot / 3.0 * 100).alias("a_dev"),
        (F.col("n_qty").cast("double") / tot / 3.0 * 100).alias("n_dev"),
        (tot / F.lit(3.0)).alias("average"),
    ).orderBy("p_brand")


_TPCDS_Q18_SQL = """
SELECT p_brand, r_name, n_name,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg1,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg2,
       CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg3,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg4
FROM lineitem, orders, customer, nation, region, part
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND l_partkey = p_partkey
  AND c_mktsegment = 'BUILDING'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY ROLLUP (p_brand, r_name, n_name)
ORDER BY p_brand, r_name, n_name
"""


@register("tpcds_q18", oracle=_TPCDS_Q18_SQL, tags=("tpcds", "rollup"))
def tpcds_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q18 shape (cases/tpcds/query/query18.sql — ROLLUP over
    DECIMAL-cast averages with demographic dims): per-(brand, region,
    nation) averages of four decimal-cast measures for a demographic
    slice, subtotaled at every rollup level.

    Averages follow the module's determinism discipline: exact
    DECIMAL(12,2) sums, one DOUBLE division per group, identical
    expression shape in the oracle (a native decimal AVG would carry
    engine-specific intermediate scale). Scale shape: one fact
    aggregation pre-rollup; Expand sees grouped partials, not raw rows
    (the q36/q67/q80 rollup discipline). Verbatim q18 runs in
    tests/test_tpcds_verbatim.py."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    nt = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    p = table(spark, sf_dir, "part")
    d12 = lambda col: F.col(col).cast("decimal(12,2)")
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    cnt = F.count(F.lit(1))
    return (
        joined.rollup("p_brand", "r_name", "n_name")
        .agg(
            cnt.alias("cnt"),
            (F.sum(d12("l_quantity")).cast("double") / cnt).alias("agg1"),
            (F.sum(d12("l_extendedprice")).cast("double") / cnt).alias("agg2"),
            (F.sum(d12("l_discount")).cast("double") / cnt).alias("agg3"),
            (F.sum(d12("o_totalprice")).cast("double") / cnt).alias("agg4"),
        )
        .orderBy("p_brand", "r_name", "n_name")
    )
