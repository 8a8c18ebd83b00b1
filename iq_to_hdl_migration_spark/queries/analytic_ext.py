"""Spark-native analytic extensions (SURVEY §2.10 records these as
absent in the reference; Spark provides them natively, so the engine
exposes them as first-class queries): ROLLUP / CUBE / GROUPING SETS
multi-level aggregation and time-range window frames.

Scale notes: rollup/cube/grouping-sets are a single shuffle in Spark —
the Expand operator replicates each input row per grouping set
map-side, partial-aggregates, then shuffles once on the expanded key
(no per-level re-scan). The range-frame window shuffles once on the
partition key and evaluates the frame with a sliding cursor over the
sorted partition.

Determinism: grouping columns are low-cardinality strings; subtotal
rows carry NULL group keys plus an explicit grouping_id so the oracle
rows align exactly. Sums cast per-value to DECIMAL first.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.sources.tables import load_table

_TP = "CAST(o_totalprice AS DECIMAL(14,2))"
_QTY = "CAST(l_quantity AS DECIMAL(12,2))"


@register(
    "rollup_order_revenue",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS INTEGER) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_TP}) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy totals (status -> status+priority -> grand); "
        "single-shuffle Expand plan",
)
def rollup_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
             .cast("double").alias("revenue"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders",
                "revenue")
    )


@register(
    "cube_lineitem_counts",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS INTEGER) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({_QTY}) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus): all 4 grouping sets in one "
        "Expand + single shuffle",
)
def cube_lineitem_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count(F.lit(1)).alias("n_items"),
             F.sum(F.col("l_quantity").cast("decimal(12,2)"))
             .cast("double").alias("total_qty"))
        .select("l_returnflag", "l_linestatus", "gid", "n_items",
                "total_qty")
    )


@register(
    "grouping_sets_mktsegment_nation",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey)
                AS INTEGER) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               AS total_balance
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    doc="explicit GROUPING SETS: two independent dimensions + grand "
        "total, one pass",
)
def grouping_sets_mktsegment_nation(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "gs_customer")
    return spark.sql("""
        SELECT c_mktsegment, c_nationkey,
               CAST(grouping(c_mktsegment) * 2 + grouping(c_nationkey)
                    AS INT) AS gid,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
                   AS total_balance
        FROM gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """)


@register(
    "events_rolling_hour_value",
    oracle="""
    SELECT event_id,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h_value
    FROM events
    """,
    doc="time-range window frame: per-type rolling 1h sum over exact "
        "integer microseconds (one shuffle on event_type)",
)
def events_rolling_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # RANGE frames take exactly one ordering expression; rows tied on
    # ts share a frame, so the sum is deterministic without a tiebreak.
    w = (Window.partitionBy("event_type")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "event_type",
        F.sum(F.col("value").cast("decimal(14,2)")).over(w)
        .cast("double").alias("rolling_1h_value"))


@register(
    "stats_price_quantiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS q25,
           quantile_cont(l_extendedprice, 0.50) AS q50,
           quantile_cont(l_extendedprice, 0.75) AS q75,
           quantile_cont(l_extendedprice, 0.99) AS q99,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact linear-interpolation quantiles per group (Spark "
        "percentile == DuckDB quantile_cont bit-for-bit); at scale "
        "swap to approx_percentile with a documented error bound",
)
def stats_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.25D)").alias("q25"),
        F.expr("percentile(l_extendedprice, 0.50D)").alias("q50"),
        F.expr("percentile(l_extendedprice, 0.75D)").alias("q75"),
        F.expr("percentile(l_extendedprice, 0.99D)").alias("q99"),
        F.count(F.lit(1)).alias("n"))


@register(
    "pivot_status_by_priority",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_p,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN {_TP} END)
                AS DOUBLE) AS total_f
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot (long->wide) with explicit value list: one shuffle, "
        "map-side partial aggregation of every pivot cell; explicit "
        "values keep the schema static (no extra distinct-scan job)",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    wide = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.expr(_TP)).cast("double").alias("tp"))
    )
    return wide.select(
        "o_orderpriority",
        F.col("F_n").cast("bigint").alias("n_f"),
        F.col("O_n").cast("bigint").alias("n_o"),
        F.col("P_n").cast("bigint").alias("n_p"),
        F.col("F_tp").alias("total_f"),
    )


@register(
    "unpivot_lineitem_metrics",
    oracle=f"""
    SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS DOUBLE) AS total
    FROM (
        SELECT 'quantity' AS metric, {_QTY} AS v FROM lineitem
        UNION ALL
        SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(14,2))
        FROM lineitem
        UNION ALL
        SELECT 'discount', CAST(l_discount AS DECIMAL(14,2)) FROM lineitem
    ) t GROUP BY metric
    """,
    doc="unpivot (wide->long) via stack(): zero-shuffle row expansion "
        "inside the scan stage, then one grouped aggregation",
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(F.expr(
        "stack(3, 'quantity', CAST(l_quantity AS DECIMAL(14,2)), "
        "'extendedprice', CAST(l_extendedprice AS DECIMAL(14,2)), "
        "'discount', CAST(l_discount AS DECIMAL(14,2))) AS (metric, v)"))
    return (
        long.groupBy("metric")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("v").cast("double").alias("total"))
    )


@register(
    "decile_binned_revenue",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
                             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
        FROM lineitem
    )
    SELECT CAST(1 + len(list_filter(b.qs,
                 q -> CAST(l_extendedprice AS DOUBLE) > q)) AS INTEGER)
               AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS total_price
    FROM lineitem, b
    GROUP BY 1
    """,
    doc="exact decile binning as two distributed passes: (1) global "
        "interpolated percentiles -> 9 cutpoints in a 1-row frame, "
        "(2) broadcast cutpoints + comparison-count binning. This "
        "replaces NTILE's single-partition global sort (which cannot "
        "scale) with two all-parallel passes; percentile/quantile_cont "
        "cross-engine bit-parity is established by stats_price_quantiles",
)
def decile_binned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.col("l_extendedprice").cast("double").alias("pd"))
    bounds = li.agg(F.percentile(
        F.col("pd"),
        F.array(*[F.lit(i / 10.0) for i in range(1, 10)])).alias("qs"))
    binned = li.crossJoin(F.broadcast(bounds)).select(
        (F.lit(1) + F.size(F.filter(
            F.col("qs"), lambda q: F.col("pd") > q)))
        .cast("int").alias("bin"),
        F.col("l_extendedprice").cast("decimal(14,2)").alias("p"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("p").cast("double").alias("total_price"))
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(14,2))
                        * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           (CAST(e.value AS DOUBLE) - s.sx / s.n)
               / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((CAST(e.value AS DOUBLE) - s.sx / s.n)
              / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))) > 3.0
    """,
    doc="z-score outlier detection per event type; moments are exact "
        "decimal sums (cross-engine bit-stable, unlike stddev_samp's "
        "order-dependent float accumulation), stats side broadcast back "
        "onto the stream — two passes, no global sort",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(14,2)")
    stats = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n"),
             F.sum(vd).cast("double").alias("sx"),
             F.sum(vd * vd).cast("double").alias("sxx"))
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    z = ((F.col("value").cast("double") - F.col("sx") / F.col("n"))
         / F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                  / (F.col("n") - F.lit(1.0))))
    return (
        joined.select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3.0)
    )


@register(
    "orders_cumulative_share",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month_ts,
               SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_dec
        FROM orders GROUP BY 1
    )
    SELECT month_ts, CAST(rev_dec AS DOUBLE) AS rev,
           CAST(SUM(rev_dec) OVER (ORDER BY month_ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)
               / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS cum_share
    FROM m
    """,
    doc="cumulative revenue share by month: heavy aggregation first "
        "(one shuffle to ~84 month rows), then the unpartitioned window "
        "runs on the tiny aggregate — never a global sort of the fact; "
        "the running sum stays DECIMAL-exact through the window (a "
        "windowed SUM(double) accumulates in engine-specific order — "
        "not bit-stable) with ONE double division at the end",
)
def orders_cumulative_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    monthly = (
        od.withColumn("month_ts", F.trunc(F.col("o_orderdate"), "month"))
        .groupBy("month_ts")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
             .alias("rev_dec"))
    )
    w_cum = Window.orderBy("month_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    return monthly.select(
        "month_ts", F.col("rev_dec").cast("double").alias("rev"),
        (F.sum("rev_dec").over(w_cum).cast("double")
         / F.sum("rev_dec").over(w_all).cast("double"))
        .alias("cum_share"))


@register(
    "stats_qty_price_correlation",
    oracle="""
    WITH m AS (
        -- every moment leaves DECIMAL as float(unscaled_int)/10^scale:
        -- a single-rounded int->double cast (correctly rounded in both
        -- engines) followed by one division — the direct DECIMAL(38,4)
        -- -> DOUBLE cast path differs between engines once the
        -- unscaled value passes 2^53 (r7 bit-exact gate catch)
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) * 100
                         AS HUGEINT) AS DOUBLE) / 100.0 AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) * 100
                         AS HUGEINT) AS DOUBLE) / 100.0 AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))
                        * CAST(l_quantity AS DECIMAL(14,2))) * 10000
                         AS HUGEINT) AS DOUBLE) / 10000.0
                   AS sxx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                        * CAST(l_extendedprice AS DECIMAL(14,2))) * 10000
                         AS HUGEINT) AS DOUBLE) / 10000.0
                   AS syy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))
                        * CAST(l_extendedprice AS DECIMAL(14,2))) * 10000
                         AS HUGEINT) AS DOUBLE) / 10000.0
                   AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (sxy - sx * sy / n)
               / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
               AS corr_qty_price,
           CAST(n AS BIGINT) AS n_rows
    FROM m
    """,
    doc="Pearson correlation per group from exact decimal moments in "
        "ONE pass (Spark's corr() accumulates floats order-dependently "
        "and cannot hash-match across engines; explicit moments can)",
)
def stats_qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(14,2)")
    y = F.col("l_extendedprice").cast("decimal(14,2)")
    def viaint(col, scale):
        # float(unscaled)/10^scale — the single-rounded int->double
        # path shared with the oracle (see oracle comment)
        return ((col * scale).cast("decimal(38,0)").cast("double")
                / F.lit(float(scale)))

    m = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).cast("double").alias("n"),
              viaint(F.sum(x), 100).alias("sx"),
              viaint(F.sum(y), 100).alias("sy"),
              viaint(F.sum(x * x), 10000).alias("sxx"),
              viaint(F.sum(y * y), 10000).alias("syy"),
              viaint(F.sum(x * y), 10000).alias("sxy")))
    corr = ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
               * F.sqrt(F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))))
    return m.select("l_returnflag", corr.alias("corr_qty_price"),
                    F.col("n").cast("bigint").alias("n_rows"))


@register(
    "mode_priority_by_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(cnt AS BIGINT) AS n_rows
    FROM (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY COUNT(*) DESC, o_orderpriority)
                   AS rn
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) t WHERE rn = 1
    """,
    doc="deterministic per-group mode: grouped count then window pick "
        "with an explicit tiebreak (Spark's mode() breaks ties "
        "arbitrarily; count+window is reproducible)",
)
def mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    counts = (od.groupBy("o_orderstatus", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_orderstatus",
                    F.col("o_orderpriority").alias("mode_priority"),
                    F.col("cnt").cast("bigint").alias("n_rows")))


# ---------------------------------------------------------------------------
# exact median absolute deviation per group — the robust dispersion
# statistic (immune to the outliers that blow up stddev). Two
# rank-window passes: exact low-median of the values, then exact
# low-median of |x - median|. Rank arithmetic is integer ((n+1) div 2)
# and the only float ops are abs/subtract on stored doubles — no
# interpolation, so the result is a value that exists in the data and
# hashes identically across engines.
# ---------------------------------------------------------------------------

@register(
    "stats_mad_quantity_by_flag",
    oracle="""
    WITH r1 AS (
        SELECT l_returnflag AS flag, l_quantity, l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    med AS (
        SELECT flag, MAX(CASE WHEN rn = (n + 1) // 2
                              THEN l_quantity END) AS median_qty
        FROM r1 GROUP BY flag
    ),
    dev AS (
        SELECT r1.flag, abs(r1.l_quantity - m.median_qty) AS d,
               r1.l_orderkey, r1.l_linenumber
        FROM r1 JOIN med m ON m.flag = r1.flag
    ),
    r2 AS (
        SELECT flag, d,
               ROW_NUMBER() OVER (PARTITION BY flag
                                  ORDER BY d, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY flag) AS n
        FROM dev
    )
    SELECT r2.flag, m.median_qty,
           MAX(CASE WHEN r2.rn = (r2.n + 1) // 2 THEN r2.d END) AS mad_qty
    FROM r2 JOIN med m ON m.flag = r2.flag
    GROUP BY r2.flag, m.median_qty
    """,
    doc="exact per-group median absolute deviation of l_quantity "
        "(low-median convention, integer rank arithmetic, deterministic "
        "(value, orderkey, linenumber) tie-break) — robust dispersion "
        "without interpolation or sketches",
)
def stats_mad_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_quantity",
        "l_orderkey", "l_linenumber")
    w1 = Window.partitionBy("flag").orderBy("l_quantity", "l_orderkey",
                                            "l_linenumber")
    wn = Window.partitionBy("flag")
    r1 = (li.withColumn("rn", F.row_number().over(w1))
          .withColumn("n", F.count(F.lit(1)).over(wn)))
    med = r1.groupBy("flag").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                     F.col("l_quantity"))).alias("median_qty"))
    dev = (r1.join(F.broadcast(med), "flag")
           .select("flag", F.abs(F.col("l_quantity")
                                 - F.col("median_qty")).alias("d"),
                   "l_orderkey", "l_linenumber"))
    w2 = Window.partitionBy("flag").orderBy("d", "l_orderkey",
                                            "l_linenumber")
    r2 = (dev.withColumn("rn", F.row_number().over(w2))
          .withColumn("n", F.count(F.lit(1)).over(wn)))
    mad = r2.groupBy("flag").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                     F.col("d"))).alias("mad_qty"))
    return med.join(mad, "flag").select("flag", "median_qty", "mad_qty")


# ---------------------------------------------------------------------------
# Distribution-position report: cume_dist / percent_rank over customer
# account balances within market segment — the remaining ranked-window
# coverage (rank/dense_rank/row_number/ntile-free deciles are covered
# elsewhere).  Both functions are rational counts (rank/n), so the
# doubles are single divisions and hash-stable across engines.

@register(
    "customer_balance_position",
    oracle="""
    SELECT c_mktsegment,
           CAST(c_custkey AS BIGINT) AS c_custkey,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)) * 100, 0)
                AS BIGINT) AS acctbal_cents,
           cume_dist() OVER w AS bal_cume_dist,
           percent_rank() OVER w AS bal_percent_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)) * 100,
                                     0) AS BIGINT), c_custkey)
    QUALIFY cume_dist() OVER w >= 0.95
    """,
    doc="top-5%-by-balance report per market segment via cume_dist + "
        "percent_rank (rational rank/n doubles, hash-stable); one "
        "shuffle on the segment key.  Balance is emitted as BIGINT "
        "cents, not DECIMAL — top-level DECIMAL outputs are "
        "driver-hash-unsafe (the round-6 HUGEINT bug class) and are "
        "forbidden by scripts/lint_oracle_types.py.",
)
def customer_balance_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.round(F.col("c_acctbal").cast("decimal(18,2)") * 100, 0)
        .cast("bigint").alias("acctbal_cents"))
    w = Window.partitionBy("c_mktsegment").orderBy("acctbal_cents",
                                                   "c_custkey")
    return (cust
            .withColumn("bal_cume_dist", F.cume_dist().over(w))
            .withColumn("bal_percent_rank", F.percent_rank().over(w))
            .where(F.col("bal_cume_dist") >= 0.95))


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: median of pairwise slopes over the monthly
# revenue series.  The scale shape: the fact table aggregates to ~80
# monthly points FIRST (map-side combined, exact DECIMAL sums), and
# the O(n^2) pair join runs on that constant-size frame — at 100 TB
# the quadratic step still sees ~80 rows.  Medians are exact rank
# picks (avg of the two middle elements, which for odd n degenerates
# to the middle element exactly), so no double summation anywhere and
# the estimate hash-matches.  Robust to the outlier months that break
# OLS (the reference's assessment-style reports are all OLS-free for
# the same reason).

@register(
    "trend_theil_sen_monthly_revenue",
    oracle="""
    WITH m AS (
        SELECT CAST(date_part('year', CAST(o_orderdate AS TIMESTAMP)) * 12
                    + date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS y
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS s
        FROM m a JOIN m b ON a.x < b.x
    ),
    ranked AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS r,
               COUNT(*) OVER () AS n
        FROM slopes
    ),
    med AS (
        SELECT (MIN(s) + MAX(s)) / 2 AS slope
        FROM ranked
        WHERE r IN ((n + 1) // 2, n // 2 + 1)
    ),
    resid AS (
        SELECT m.y - med.slope * CAST(m.x AS DOUBLE) AS e
        FROM m, med
    ),
    rranked AS (
        SELECT e, ROW_NUMBER() OVER (ORDER BY e) AS r,
               COUNT(*) OVER () AS n
        FROM resid
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs,
           (SELECT slope FROM med) AS theil_sen_slope,
           (SELECT (MIN(e) + MAX(e)) / 2 FROM rranked
            WHERE r IN ((n + 1) // 2, n // 2 + 1)) AS theil_sen_intercept
    """,
    doc="Theil-Sen robust trend of monthly revenue: exact-DECIMAL "
        "monthly aggregation first (constant ~80 points at ANY scale), "
        "then median pairwise slope + median-residual intercept by "
        "exact rank picks — outlier-robust, no double summation, "
        "estimate hash-checked",
    bench=True,
)
def trend_theil_sen_monthly_revenue(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # the ~80-row monthly frame feeds four independent branches; the
    # eager checkpoint scans orders ONCE instead of once per branch
    # (Catalyst does not dedupe common subplans across self-joins)
    m = (orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("x"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("y"))).localCheckpoint()
    a, b = m.alias("a"), m.alias("b")
    slopes = (a.join(b, F.col("a.x") < F.col("b.x"))
              .select(((F.col("b.y") - F.col("a.y"))
                       / (F.col("b.x") - F.col("a.x")).cast("double"))
                      .alias("s")))

    def rank_median(df: DataFrame, col: str, out: str) -> DataFrame:
        # ~n^2/2 rows max (3k at 80 months): the single-partition rank
        # window is a constant-size sort, not a data-volume hazard
        w = Window.orderBy(col)
        ranked = (df.withColumn("r", F.row_number().over(w))
                  .withColumn("n", F.count(F.lit(1)).over(
                      Window.partitionBy())))
        return (ranked.where(F.expr("r IN ((n + 1) div 2, n div 2 + 1)"))
                .agg(((F.min(col) + F.max(col)) / 2).alias(out)))

    med = rank_median(slopes, "s", "theil_sen_slope")
    resid = (m.crossJoin(F.broadcast(med))
             .select((F.col("y") - F.col("theil_sen_slope")
                      * F.col("x").cast("double")).alias("e")))
    intercept = rank_median(resid, "e", "theil_sen_intercept")
    counts = (m.agg(F.count(F.lit(1)).alias("n_months"))
              .crossJoin(F.broadcast(
                  slopes.agg(F.count(F.lit(1)).alias("n_pairs")))))
    return (counts.crossJoin(F.broadcast(med))
            .crossJoin(F.broadcast(intercept))
            .select("n_months", "n_pairs", "theil_sen_slope",
                    "theil_sen_intercept"))


# ---------------------------------------------------------------------------
# Mann-Kendall trend test — the nonparametric significance companion
# to the Theil-Sen estimator above (same monthly series, same
# two-stage shape: exact-DECIMAL monthly aggregation first, then the
# pairwise statistic over a CONSTANT ~80-point frame at any scale).
# S and the tie-corrected variance are pure integers (sign
# comparisons on DECIMAL sums are exact in both engines; var is kept
# as 18*Var(S) to stay in BIGINT); only the final z is a single
# sub/sqrt/div chain — bit-stable, so the whole row hash-checks.

@register(
    "trend_mann_kendall_monthly_revenue",
    oracle="""
    WITH m AS (
        SELECT CAST(date_part('year', CAST(o_orderdate AS TIMESTAMP)) * 12
                    + date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM m a JOIN m b ON a.x < b.x
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m),
    ties AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
              FROM m GROUP BY y HAVING COUNT(*) > 1) g
    ),
    v AS (
        SELECT n.n,
               n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS var18
        FROM n, ties
    )
    SELECT v.n AS n_months, s.s_stat,
           CAST(v.var18 AS BIGINT) AS var_s18,
           CASE WHEN s.s_stat > 0
                THEN CAST(s.s_stat - 1 AS DOUBLE)
                     / sqrt(CAST(v.var18 AS DOUBLE) / 18.0)
                WHEN s.s_stat < 0
                THEN CAST(s.s_stat + 1 AS DOUBLE)
                     / sqrt(CAST(v.var18 AS DOUBLE) / 18.0)
                ELSE 0.0 END AS z_score,
           CASE WHEN s.s_stat > 0 AND CAST(s.s_stat - 1 AS DOUBLE)
                     / sqrt(CAST(v.var18 AS DOUBLE) / 18.0) > 1.96
                THEN 'increasing'
                WHEN s.s_stat < 0 AND CAST(s.s_stat + 1 AS DOUBLE)
                     / sqrt(CAST(v.var18 AS DOUBLE) / 18.0) < -1.96
                THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM s, v
    """,
    doc="Mann-Kendall trend test on monthly revenue: integer S over "
        "all month pairs (exact DECIMAL sign comparisons), "
        "tie-corrected variance kept as BIGINT 18*Var(S), "
        "continuity-corrected z and a significance label — pairs with "
        "trend_theil_sen_monthly_revenue as the test/estimator duo",
)
def trend_mann_kendall_monthly_revenue(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("x"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("y"))).localCheckpoint()
    a, b = m.alias("a"), m.alias("b")
    s = (a.join(b, F.col("a.x") < F.col("b.x"))
         .agg(F.sum(F.when(F.col("b.y") > F.col("a.y"), 1)
                    .when(F.col("b.y") < F.col("a.y"), -1)
                    .otherwise(0)).cast("bigint").alias("s_stat")))
    n = m.agg(F.count(F.lit(1)).alias("n"))
    ties = (m.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
            .where(F.col("t") > 1)
            .agg(F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
                .cast("bigint").alias("tie_term")))
    v = (n.crossJoin(F.broadcast(ties))
         .select(F.col("n"),
                 (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                  - F.col("tie_term")).alias("var18")))
    z = (F.when(F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double")
                / F.sqrt(F.col("var18").cast("double") / 18.0))
         .when(F.col("s_stat") < 0,
               (F.col("s_stat") + 1).cast("double")
               / F.sqrt(F.col("var18").cast("double") / 18.0))
         .otherwise(F.lit(0.0)))
    return (s.crossJoin(F.broadcast(v))
            .select(F.col("n").cast("bigint").alias("n_months"),
                    F.col("s_stat"),
                    F.col("var18").cast("bigint").alias("var_s18"),
                    z.alias("z_score"),
                    F.when((F.col("s_stat") > 0) & (z > 1.96),
                           "increasing")
                    .when((F.col("s_stat") < 0) & (z < -1.96),
                          "decreasing")
                    .otherwise("no_trend").alias("trend")))


# ---------------------------------------------------------------------------
# Spearman rank autocorrelation of the monthly revenue series at lags
# 1..6 — seasonality detection companion to the Theil-Sen/Mann-Kendall
# trend pair above, and deliberately SPEARMAN rather than Pearson so
# the whole statistic stays hash-portable: ranks are integers, the
# d^2 sum is a BIGINT, and rho = 1 - 6*sum_d2/(n(n^2-1)) is one
# mult/div chain on doubles (bit-stable).  Ranks use row_number with
# a month tiebreak (exact-DECIMAL revenues make real ties
# vanishingly unlikely; the tiebreak keeps both engines identical if
# one occurs).  Same 100 TB shape as its siblings: the fact table
# collapses to ~80 exact-DECIMAL monthly points FIRST, so the lag
# join and the per-lag rank windows run on a constant-size frame at
# any scale.

@register(
    "trend_spearman_acf_monthly_revenue",
    oracle="""
    WITH m AS (
        SELECT CAST(date_part('year', CAST(o_orderdate AS TIMESTAMP)) * 12
                    + date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT b.x - a.x AS lag, a.x AS ax, a.y AS ay, b.y AS by_
        FROM m a JOIN m b ON b.x - a.x BETWEEN 1 AND 6
    ),
    ranked AS (
        SELECT lag,
               ROW_NUMBER() OVER (PARTITION BY lag ORDER BY ay, ax)
                   AS r1,
               ROW_NUMBER() OVER (PARTITION BY lag ORDER BY by_, ax)
                   AS r2
        FROM pairs
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
           1.0 - (6.0 * CAST(SUM((r1 - r2) * (r1 - r2)) AS DOUBLE))
                 / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE)
               AS spearman_rho
    FROM ranked GROUP BY lag ORDER BY lag
    """,
    doc="Spearman rank autocorrelation of monthly revenue at lags "
        "1..6: exact-DECIMAL monthly points first (constant ~80-row "
        "frame at any scale), integer ranks + BIGINT d^2 sums per "
        "lag, rho as one double mult/div chain — seasonality "
        "detection with full hash parity",
)
def trend_spearman_acf_monthly_revenue(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("x"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("y"))).localCheckpoint()
    a, b = m.alias("a"), m.alias("b")
    pairs = (a.join(b, (F.col("b.x") - F.col("a.x")).between(1, 6))
             .select((F.col("b.x") - F.col("a.x")).alias("lag"),
                     F.col("a.x").alias("ax"),
                     F.col("a.y").alias("ay"),
                     F.col("b.y").alias("by_")))
    ranked = pairs.select(
        "lag",
        F.row_number().over(
            Window.partitionBy("lag").orderBy("ay", "ax")).alias("r1"),
        F.row_number().over(
            Window.partitionBy("lag").orderBy("by_", "ax")).alias("r2"))
    d2 = ((F.col("r1") - F.col("r2"))
          * (F.col("r1") - F.col("r2"))).cast("bigint")
    g = ranked.groupBy(F.col("lag").cast("bigint").alias("lag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(d2).cast("bigint").alias("sum_d2"))
    n = F.col("n_pairs")
    return (g.select(
        "lag", "n_pairs", "sum_d2",
        (F.lit(1.0) - (F.lit(6.0) * F.col("sum_d2").cast("double"))
         / (n * (n * n - 1)).cast("double")).alias("spearman_rho"))
        .orderBy("lag"))


# ---------------------------------------------------------------------------
# Holt linear-trend forecast of monthly revenue — the projection verb
# beside the Theil-Sen/Mann-Kendall/Spearman diagnostics: level and
# trend smoothed with rational constants (alpha=1/5, beta=1/10) in
# PURE INTEGER cents, every update a BIGINT div, so the recurrence is
# bit-identical in both engines (float Holt would drift in the last
# ulps).  The fold runs over the exact-DECIMAL monthly aggregate
# (~80 points at any data volume — same constant-frame shape as its
# trend siblings) via one aggregate() pass; the oracle restates the
# identical recurrence as a recursive CTE.  Emits the smoothed
# actuals plus a 3-month-ahead forecast (L_n + h * B_n).

_HOLT_H = 3


@register(
    "trend_holt_forecast_monthly_revenue",
    oracle=f"""
    WITH RECURSIVE m AS (
        SELECT CAST(date_part('year', CAST(o_orderdate AS TIMESTAMP)) * 12
                    + date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT x, cents,
               CAST(ROW_NUMBER() OVER (ORDER BY x) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM m
    ),
    s AS (
        SELECT i, x, cents, n, cents AS lev, CAST(0 AS BIGINT) AS tr
        FROM idx WHERE i = 1
        UNION ALL
        SELECT idx.i, idx.x, idx.cents, idx.n,
               (idx.cents + 4 * (s.lev + s.tr)) // 5,
               (((idx.cents + 4 * (s.lev + s.tr)) // 5 - s.lev)
                + 9 * s.tr) // 10
        FROM s JOIN idx ON idx.i = s.i + 1
    )
    SELECT x, 'actual' AS kind, cents AS value_cents,
           CAST(lev AS BIGINT) AS level_cents,
           CAST(tr AS BIGINT) AS trend_cents
    FROM s
    UNION ALL
    SELECT last.x + h.h, 'forecast',
           CAST(last.lev + h.h * last.tr AS BIGINT),
           CAST(last.lev AS BIGINT), CAST(last.tr AS BIGINT)
    FROM (SELECT x, lev, tr FROM s WHERE i = (SELECT MAX(i) FROM s))
         last
    CROSS JOIN (SELECT unnest(range(1, {_HOLT_H} + 1)) AS h) h
    """,
    doc="Holt linear-trend forecast of monthly revenue in pure "
        "integer cents (alpha=1/5, beta=1/10 as BIGINT div updates — "
        "bit-identical recurrence in both engines); fold over the "
        "constant ~80-point monthly frame, 3-month-ahead projection "
        "L + h*B; oracled as the identical recursive CTE",
)
def trend_holt_forecast_monthly_revenue(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("x"))
        .agg((F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
              * 100).cast("bigint").alias("cents")))
    one = m.agg(F.sort_array(F.collect_list(F.struct("x", "cents")))
                .alias("ms"))
    folded = one.select(F.expr("""
        aggregate(
            slice(ms, 2, size(ms) - 1),
            struct(array(struct(ms[0].x AS x, ms[0].cents AS cents,
                                ms[0].cents AS lev,
                                CAST(0 AS BIGINT) AS tr)) AS out,
                   ms[0].cents AS lev, CAST(0 AS BIGINT) AS tr),
            (acc, e) -> struct(
                concat(acc.out, array(struct(
                    e.x AS x, e.cents AS cents,
                    (e.cents + 4 * (acc.lev + acc.tr)) div 5 AS lev,
                    (((e.cents + 4 * (acc.lev + acc.tr)) div 5
                      - acc.lev) + 9 * acc.tr) div 10 AS tr))),
                (e.cents + 4 * (acc.lev + acc.tr)) div 5 AS lev,
                (((e.cents + 4 * (acc.lev + acc.tr)) div 5
                  - acc.lev) + 9 * acc.tr) div 10 AS tr),
            acc -> acc.out) AS ser
    """))
    actual = (folded.select(F.explode("ser").alias("r"))
              .select(F.col("r.x").alias("x"),
                      F.lit("actual").alias("kind"),
                      F.col("r.cents").alias("value_cents"),
                      F.col("r.lev").alias("level_cents"),
                      F.col("r.tr").alias("trend_cents")))
    last = (folded.select(F.expr("element_at(ser, -1)").alias("r"))
            .select(F.col("r.x").alias("lx"),
                    F.col("r.lev").alias("lev"),
                    F.col("r.tr").alias("tr")))
    fc = (last.select(F.explode(F.expr(
            f"sequence(1L, {_HOLT_H}L)")).alias("h"), "lx", "lev", "tr")
          .select((F.col("lx") + F.col("h")).alias("x"),
                  F.lit("forecast").alias("kind"),
                  (F.col("lev") + F.col("h") * F.col("tr"))
                  .cast("bigint").alias("value_cents"),
                  F.col("lev").cast("bigint").alias("level_cents"),
                  F.col("tr").cast("bigint").alias("trend_cents")))
    return actual.unionByName(fc)


# ---------------------------------------------------------------------------
# Classic additive seasonal decomposition of the monthly revenue
# series: trend = 13-month centered moving average, seasonal =
# month-of-year mean of the detrended series, residual = the rest.
# Scale shape: the fact table collapses to the ~80-month series FIRST
# (exact DECIMAL sums, map-side combined); every window/group after
# that is calendar-bounded. Float discipline: the moving-average sum
# stays DECIMAL through the window (one double division at the end —
# windowed SUM(double) accumulates in engine-specific order), and the
# seasonal mean quantizes detrended values to integer cents before
# summing so the group aggregation is exact BIGINT.

@register(
    "trend_seasonal_decomposition_monthly",
    oracle="""
    WITH m AS (
        SELECT CAST(date_part('year', CAST(o_orderdate AS TIMESTAMP)) * 12
                    + date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS BIGINT) AS x,
               CAST(date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS INTEGER) AS month_of_year,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ydec
        FROM orders GROUP BY 1, 2
    ),
    t AS (
        SELECT x, month_of_year, CAST(ydec AS DOUBLE) AS y,
               CAST(SUM(ydec) OVER w AS DOUBLE) / 13.0 AS trend,
               COUNT(*) OVER w AS cnt
        FROM m
        WINDOW w AS (ORDER BY x ROWS BETWEEN 6 PRECEDING
                                       AND 6 FOLLOWING)
    ),
    d AS (
        SELECT x, month_of_year, y, trend, y - trend AS dtr
        FROM t WHERE cnt = 13
    ),
    seas AS (
        SELECT month_of_year,
               CAST(SUM(CAST(floor(dtr * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE)
               / CAST(100 * COUNT(*) AS DOUBLE) AS seasonal
        FROM d GROUP BY month_of_year
    )
    SELECT d.x, d.month_of_year, d.y AS revenue, d.trend, s.seasonal,
           d.y - d.trend - s.seasonal AS residual
    FROM d JOIN seas s ON s.month_of_year = d.month_of_year
    """,
    doc="additive seasonal decomposition of monthly revenue: 13-month "
        "centered-MA trend (DECIMAL sum through the window, one double "
        "division), month-of-year seasonal mean over cent-quantized "
        "detrended values (exact BIGINT group sum), residual — the "
        "series-diagnostics companion to the Theil-Sen/Holt/ACF "
        "family; everything after the first aggregation is bounded by "
        "the calendar",
    bench=True,
)
def trend_seasonal_decomposition_monthly(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("x"),
        F.month("o_orderdate").cast("int").alias("month_of_year"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .alias("ydec"))).localCheckpoint()
    w = Window.orderBy("x").rowsBetween(-6, 6)
    t = m.select(
        "x", "month_of_year",
        F.col("ydec").cast("double").alias("y"),
        (F.sum("ydec").over(w).cast("double") / F.lit(13.0))
        .alias("trend"),
        F.count(F.lit(1)).over(w).alias("cnt"))
    d = (t.where(F.col("cnt") == 13)
         .select("x", "month_of_year", "y", "trend",
                 (F.col("y") - F.col("trend")).alias("dtr")))
    seas = (d.groupBy("month_of_year")
            .agg((F.sum(F.floor(F.col("dtr") * 100.0 + 0.5)
                        .cast("bigint")).cast("double")
                  / (F.lit(100) * F.count(F.lit(1))).cast("double"))
                 .alias("seasonal")))
    return (d.join(F.broadcast(seas), "month_of_year")
            .select("x", "month_of_year", F.col("y").alias("revenue"),
                    "trend", "seasonal",
                    (F.col("y") - F.col("trend") - F.col("seasonal"))
                    .alias("residual")))


# ---------------------------------------------------------------------------
# Pettitt changepoint test (round 12): completes the monthly-revenue
# trend suite (Mann-Kendall answers IS there a trend, Theil-Sen how
# steep, Pettitt WHERE the level shift sits). U_t = sum over pairs
# (i<=t, j>t) of sign(y_j - y_i); the changepoint is argmax |U_t|.
# Signs compare exact DECIMAL month sums, U_t is pure BIGINT, and the
# month spine is bounded (n months -> n^3 sign terms, trivially small)
# — the pair and spine joins are broadcast stitches over that bounded
# spine, never a data-scale cartesian.
# ---------------------------------------------------------------------------

@register(
    "trend_pettitt_changepoint_monthly",
    oracle="""
    WITH m AS (
        SELECT CAST(date_part('year', CAST(o_orderdate AS TIMESTAMP)) * 12
                    + date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS y
        FROM orders GROUP BY 1
    ),
    p AS (
        SELECT a.x AS xi, b.x AS xj,
               CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS s
        FROM m a JOIN m b ON a.x < b.x
    ),
    u AS (
        SELECT t.x AS month_x, CAST(SUM(p.s) AS BIGINT) AS u_t
        FROM (SELECT x FROM m WHERE x < (SELECT MAX(x) FROM m)) t
        JOIN p ON p.xi <= t.x AND p.xj > t.x
        GROUP BY t.x
    )
    SELECT month_x, u_t,
           ROW_NUMBER() OVER (ORDER BY ABS(u_t) DESC, month_x) = 1
               AS is_changepoint
    FROM u
    """,
    doc="Pettitt changepoint on monthly revenue: exact integer U_t "
        "trajectory over all split points (DECIMAL sign comparisons, "
        "BIGINT sums) with the argmax-|U| month flagged — WHERE the "
        "level shift sits, next to Mann-Kendall's is-there-a-trend; "
        "bounded month-spine pair joins, one data-scale shuffle",
)
def trend_pettitt_changepoint_monthly(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("x"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("y"))).localCheckpoint()
    a, b = m.alias("a"), m.alias("b")
    p = (a.join(F.broadcast(b), F.col("a.x") < F.col("b.x"))
         .select(F.col("a.x").alias("xi"), F.col("b.x").alias("xj"),
                 F.when(F.col("b.y") > F.col("a.y"), 1)
                 .when(F.col("b.y") < F.col("a.y"), -1)
                 .otherwise(0).alias("s")))
    mx = m.agg(F.max("x").alias("mx"))
    t = (m.join(F.broadcast(mx), F.col("x") < F.col("mx"))
         .select(F.col("x").alias("t_x")))
    u = (t.join(F.broadcast(p),
                (F.col("xi") <= F.col("t_x")) & (F.col("xj") > F.col("t_x")))
         .groupBy("t_x")
         .agg(F.sum("s").cast("bigint").alias("u_t"))
         .select(F.col("t_x").alias("month_x"), "u_t"))
    w = Window.orderBy(F.abs(F.col("u_t")).desc(), F.col("month_x"))
    return u.select("month_x", "u_t",
                    (F.row_number().over(w) == 1).alias("is_changepoint"))


# ---------------------------------------------------------------------------
# Calendar seasonality (round 12): month-of-year and day-of-week
# revenue shares in one report — the two calendar spines every demand
# forecast starts from. Day-of-week is computed as epoch-days mod 7
# (0 = Thursday, 1970-01-01's weekday) so both engines agree by
# construction instead of by engine-specific DOW conventions. Revenue
# is quantized to BIGINT cents; shares multiply the BUCKET revenue by
# 1e6 (bucket rev ~ total/12, so the product stays ~2 orders under
# int64 even at 10x sf0.1 — multiplying the TOTAL would overflow).
# ---------------------------------------------------------------------------

@register(
    "orders_calendar_seasonality",
    oracle="""
    WITH r AS (
        SELECT CAST(date_part('month', CAST(o_orderdate AS TIMESTAMP))
                    AS INTEGER) AS moy,
               CAST((CAST(o_orderdate AS TIMESTAMP)::DATE
                     - DATE '1970-01-01') % 7 AS INTEGER) AS dow,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS rq
        FROM orders
    ),
    t AS (SELECT CAST(SUM(rq) AS BIGINT) AS total FROM r),
    u AS (
        SELECT 'month_of_year' AS kind, moy AS idx,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(rq) AS BIGINT) AS revenue_units
        FROM r GROUP BY moy
        UNION ALL
        SELECT 'day_of_week' AS kind, dow AS idx,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(rq) AS BIGINT) AS revenue_units
        FROM r GROUP BY dow
    )
    SELECT kind, idx, n_orders, revenue_units,
           CAST((1000000 * revenue_units) // t.total AS BIGINT)
               AS share_ppm
    FROM u, t
    """,
    doc="month-of-year and day-of-week revenue seasonality in one "
        "report: exact BIGINT cent sums, engine-neutral weekday "
        "(epoch-days mod 7, 0 = Thursday), shares as exact ppm of "
        "total revenue; ONE orders scan aggregated to the bounded "
        "12x7 (moy, dow) grid (eagerly checkpointed, the trend-suite "
        "scan-once pattern), both margins + the total derived from "
        "that ~84-row frame (r12 verdict #5)",
)
def orders_calendar_seasonality(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    grid = (orders.select(
        F.month("o_orderdate").cast("int").alias("moy"),
        (F.datediff(F.to_date("o_orderdate"),
                    F.lit("1970-01-01").cast("date")) % 7)
        .cast("int").alias("dow"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("rq"))
        .groupBy("moy", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum("rq").cast("bigint").alias("rev"))
        .localCheckpoint())  # <=84 rows; the single orders scan
    t = grid.agg(F.sum("rev").cast("bigint").alias("total"))
    moy = (grid.groupBy(F.col("moy").alias("idx"))
           .agg(F.sum("n").cast("bigint").alias("n_orders"),
                F.sum("rev").cast("bigint").alias("revenue_units"))
           .select(F.lit("month_of_year").alias("kind"), "idx",
                   "n_orders", "revenue_units"))
    dow = (grid.groupBy(F.col("dow").alias("idx"))
           .agg(F.sum("n").cast("bigint").alias("n_orders"),
                F.sum("rev").cast("bigint").alias("revenue_units"))
           .select(F.lit("day_of_week").alias("kind"), "idx",
                   "n_orders", "revenue_units"))
    return (moy.unionByName(dow)
            .join(F.broadcast(t), F.lit(True))
            .select("kind", "idx", "n_orders", "revenue_units",
                    F.expr("(1000000 * revenue_units) div total")
                    .cast("bigint").alias("share_ppm")))


# ---------------------------------------------------------------------------
# Customer lifetime-value deciles (round 14): the revenue-concentration
# table ("the top decile holds X% of LTV") every monetization review
# opens with.  Like customer_rfm_segments, the decile assignment needs
# GLOBAL ranks over the per-customer aggregate — a bare NTILE(10)
# window is a single-task sort of every customer, so the Spark side
# uses operators/ranking.global_rank + ntile_from_rank (exact NTILE
# arithmetic, distributed two-phase rank).  Exact BIGINT cents
# end-to-end; 10-row output.
# ---------------------------------------------------------------------------

@register(
    "customer_ltv_decile_profile",
    oracle="""
    WITH per AS (
        SELECT o_custkey AS custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    q AS (
        SELECT NTILE(10) OVER (ORDER BY cents DESC, custkey) AS decile,
               cents
        FROM per
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(MIN(cents) AS BIGINT) AS min_cents
    FROM q GROUP BY 1
    """,
    doc="customer lifetime-value deciles (decile 1 = highest LTV): "
        "customer count, exact cents mass, and the cents range per "
        "decile — the revenue-concentration evidence behind retention "
        "spend; decile via distributed two-phase global rank + exact "
        "NTILE arithmetic (operators/ranking.py), never a "
        "single-partition window sort",
)
def customer_ltv_decile_profile(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.operators.ranking import (
        global_rank, ntile_from_rank)

    o = load_table(spark, sf_dir, "orders")
    per = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.sum(F.floor(F.col("o_totalprice") * 100)
                      .cast("bigint")).cast("bigint").alias("cents")))
    n_df = per.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    ranked = global_rank(per.crossJoin(F.broadcast(n_df)),
                         [F.col("cents").desc(), F.col("custkey").asc()],
                         rank_col="_rk")
    dec = ranked.withColumn(
        "decile", ntile_from_rank(F.col("_rk"), F.col("_n"), 10))
    return (dec.groupBy(F.col("decile").cast("int").alias("decile"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                 F.sum("cents").cast("bigint").alias("total_cents"),
                 F.max("cents").cast("bigint").alias("max_cents"),
                 F.min("cents").cast("bigint").alias("min_cents")))
