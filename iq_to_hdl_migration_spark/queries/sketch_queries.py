"""Sketch-based approximate aggregates — the 100-TB substitutes for
exact DISTINCT/percentile when the exact answer would shuffle the
whole key domain:

* HLL (Apache DataSketches via `hll_sketch_agg`) — mergeable distinct
  sketches: pre-aggregate per day, re-aggregate to month by sketch
  UNION without touching raw rows again.  Map-side partial sketches
  mean the shuffle carries ~1.5 KB per group instead of the key set.
* `approx_percentile` — bounded-error quantiles in one pass.

The DataSketches entries are rows-only registry entries (DuckDB's
approx sketches are a different algorithm, so value-hash comparison is
meaningless); their semantics are locked by unit tests against exact
answers with error bounds, plus the lossless-merge identity (union of
per-day sketches == one-shot sketch at equal precision).

The PORTABLE half of the family — explicit 64-register HLL (distinct,
weekly rollup, pairwise overlap via register-max union) and the
fixed-bin integer histogram percentiles (single-level + weekly
rollup) — is built from integer-exact state, so every estimate
value-hash-matches a DuckDB restatement and sits inside the driver's
correctness gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.sources.tables import load_table

_LGK = 14  # HLL precision: ~0.5% relative standard error


@register(
    "sketch_distinct_users_daily",
    # A DataSketches HLL (lgK=14) stays in its exact coupon-list/set
    # mode until ~k coupons, so below that cardinality the "estimate"
    # IS the exact distinct count — probed exact at sf0.001/0.01/0.1
    # (max 1500 distinct users per group at sf0.1, far under the
    # promotion threshold). oracle_max_sf gates the equality check to
    # those scales; past it the sketch's documented ~0.5% error takes
    # over and the entry reverts to the rows-only + local ±3σ bridge
    # discipline (tests/test_bridge_invariants.py).
    # EMPIRICAL gate (r12 advice): exact-mode equality holds on the
    # CURRENT corpora; a coupon-hash collision in a regenerated corpus
    # could undercount by 1 at these scales even though the sketch is
    # behaving as documented. If a regen ever reddens this row, the
    # correct response is to lower oracle_max_sf (or drop to the
    # rows-only bridge), not to doubt the sketch.
    oracle_max_sf=0.1,
    oracle="""
    SELECT CAST(ts AS TIMESTAMP)::DATE AS day, event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS approx_users
    FROM events GROUP BY 1, 2
    """,
    doc="per-(day, event_type) HLL distinct-user estimate; at scale this "
        "replaces countDistinct's full key shuffle with fixed-size "
        "sketch partials — value-hash-checked against exact counts while "
        "the sketch is in its exact-mode cardinality range",
)
def sketch_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id"), F.lit(_LGK)))
            .alias("approx_users"))
    )


@register(
    "sketch_distinct_users_rollup",
    # same exact-mode argument as sketch_distinct_users_daily: the
    # union of exact-mode sketches is exact while total coupons stay
    # under the lgK=14 promotion threshold (probed exact at sf0.1:
    # max 1500 distinct users per type); same empirical caveat — a
    # coupon collision on a regenerated corpus reddens the row without
    # a sketch defect (see the note on the daily entry)
    oracle_max_sf=0.1,
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS approx_users,
           CAST(COUNT(DISTINCT CAST(ts AS TIMESTAMP)::DATE) AS BIGINT)
               AS n_days
    FROM events GROUP BY event_type
    """,
    doc="two-level sketch rollup: daily HLL sketches UNION-merged to a "
        "per-type monthly distinct WITHOUT rescanning raw events — the "
        "incremental-rollup pattern a 100 TB hypertable needs; hash-"
        "checked against exact counts in the sketch's exact-mode range",
)
def sketch_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_agg(F.col("user_id"), F.lit(_LGK)).alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))
             .alias("approx_users"),
             F.count(F.lit(1)).alias("n_days"))
    )


@register(
    "sketch_value_percentiles",
    # approx_percentile(accuracy=10000) degrades to EXACT order
    # statistics while each group holds < accuracy rows — true at every
    # gate scale (sf0.01 events: ~2.5k rows/type) — and Spark's exact
    # rank convention equals DuckDB's quantile_disc (verified
    # value-identical at sf0.001 and sf0.01). Past the accuracy
    # threshold the sketch's documented error bound takes over and the
    # comparison would need a tolerance, not equality — oracle_max_sf
    # gates the equality check to scales below that threshold (the 5x
    # smoke data at ~12.5k rows/type would false-fail on a query
    # behaving exactly as documented).
    oracle_max_sf=0.02,
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.95) AS p95,
           quantile_disc(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
    doc="one-pass approx_percentile(p50/p95/p99) of event value per "
        "type — bounded-error quantiles without a global sort",
)
def sketch_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pcts = F.approx_percentile(
        F.col("value").cast("double"),
        F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)),
        F.lit(10000))
    return (
        ev.groupBy("event_type")
        .agg(pcts.alias("p"))
        .select("event_type",
                F.col("p").getItem(0).alias("p50"),
                F.col("p").getItem(1).alias("p95"),
                F.col("p").getItem(2).alias("p99"))
    )


# ---------------------------------------------------------------------------
# Engine-portable explicit HLL — the hash-checkable counterpart to the
# DataSketches entries above. Register assignment and rank extraction
# are pure integer ops over the md5-prefix hash (same portability trick
# as the dedup family), ranks (rho = 55 - bitlen of the 54-bit suffix) are capped at 30 so the harmonic sum
# accumulates EXACTLY as BIGINT (sum of 2^(30-M) terms), and the raw
# estimate is one parenthesized multiply/divide chain — so the whole
# sketch, including its estimate, value-hash-matches across engines.
# Grouping is distinct l_orderkey per l_returnflag: high enough
# cardinality at every gate scale that the raw (uncorrected) harmonic
# estimator is in its valid regime (n >> 2.5m would need the
# ln-based small-range correction, and ln is not bit-portable).
# The report carries the exact distinct count alongside so every row
# shows the sketch error it achieved; the ~1.04/sqrt(64) = 13% bound
# is locked in tests.
# ---------------------------------------------------------------------------

_HLL_M = 64             # registers (2^6)
_HLL_ALPHA = 0.709      # HLL alpha_64 constant, frozen literal
_HLL_RANK_CAP = 30      # keeps 2^(cap - M) sums exact in BIGINT
_DAY_US = 86_400_000_000


@register(
    "sketch_hll_portable_distinct_orders",
    oracle=f"""
    WITH h AS (
        SELECT l_returnflag AS flag, l_orderkey,
               CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM lineitem
    ),
    rho AS (
        SELECT flag, hv % {_HLL_M} AS reg,
               least(CASE WHEN hv // {_HLL_M} = 0 THEN 55
                          ELSE 55 - length(bin(hv // {_HLL_M})) END,
                     {_HLL_RANK_CAP}) AS r
        FROM h
    ),
    regs AS (
        SELECT flag, reg, MAX(r) AS m FROM rho GROUP BY flag, reg
    ),
    agg AS (
        SELECT flag,
               CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
               CAST(SUM(CAST(2 AS BIGINT) << ({_HLL_RANK_CAP} - m))
                    AS BIGINT) / 2
                   + ({_HLL_M} - COUNT(*))
                     * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
                   AS sum_scaled
        FROM regs GROUP BY flag
    ),
    exact AS (
        SELECT l_returnflag AS flag,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact
        FROM lineitem GROUP BY 1
    )
    SELECT a.flag, e.n_orders_exact, a.n_registers_hit,
           CAST(a.sum_scaled AS BIGINT) AS sum_scaled,
           (CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M})
               * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
               / CAST(a.sum_scaled AS DOUBLE) AS hll_estimate
    FROM agg a JOIN exact e ON a.flag = e.flag
    """,
    doc="engine-portable explicit HLL(64): distinct orderkeys per "
        "returnflag with the exact count alongside — integer register "
        "math + exact BIGINT harmonic sum make even the ESTIMATE "
        "value-hash-checkable (the DataSketches entries stay rows-only "
        "by algorithmic design); error bound locked in tests",
)
def sketch_hll_portable_distinct_orders(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cap, m = _HLL_RANK_CAP, _HLL_M
    h = li.select(
        F.col("l_returnflag").alias("flag"), "l_orderkey",
        F.expr("CAST(conv(substr(md5(CAST(l_orderkey AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT)").alias("hv"))
    rho = h.select(
        "flag", (F.col("hv") % m).alias("reg"),
        F.least(
            F.when(F.expr(f"hv div {m}") == 0, F.lit(55))
            .otherwise(F.lit(55)
                       - F.length(F.bin(F.expr(f"hv div {m}")))),
            F.lit(cap)).alias("r"))
    regs = rho.groupBy("flag", "reg").agg(F.max("r").alias("m"))
    agg = regs.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n_registers_hit"),
        (F.sum(F.expr(f"CAST(2 AS BIGINT) << ({cap} - m)")).cast("bigint")
         / F.lit(2)).cast("bigint")
        .alias("present_sum"))
    agg = agg.withColumn(
        "sum_scaled",
        F.col("present_sum")
        + (F.lit(m) - F.col("n_registers_hit"))
        * F.expr(f"CAST(1 AS BIGINT) << {cap}")).drop("present_sum")
    exact = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.countDistinct("l_orderkey").alias("n_orders_exact"))
    est = (F.lit(_HLL_ALPHA * m * m)
           * F.expr(f"CAST(1 AS BIGINT) << {cap}").cast("double")
           / F.col("sum_scaled").cast("double"))
    return (agg.join(exact, "flag")
            .select("flag", "n_orders_exact", "n_registers_hit",
                    "sum_scaled", est.alias("hll_estimate")))


@register(
    "sketch_hll_portable_rollup",
    oracle=f"""
    WITH h AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US} AS day_idx,
               user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events
    ),
    rho AS (
        SELECT day_idx, hv % {_HLL_M} AS reg,
               least(CASE WHEN hv // {_HLL_M} = 0 THEN 55
                          ELSE 55 - length(bin(hv // {_HLL_M})) END,
                     {_HLL_RANK_CAP}) AS r
        FROM h
    ),
    daily AS (
        SELECT day_idx, reg, MAX(r) AS m FROM rho GROUP BY day_idx, reg
    ),
    merged AS (
        SELECT day_idx // 7 AS week_idx, reg, MAX(m) AS m
        FROM daily GROUP BY day_idx // 7, reg
    ),
    agg AS (
        SELECT week_idx,
               CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
               CAST(SUM(CAST(2 AS BIGINT) << ({_HLL_RANK_CAP} - m))
                    AS BIGINT) / 2
                   + ({_HLL_M} - COUNT(*))
                     * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
                   AS sum_scaled
        FROM merged GROUP BY week_idx
    ),
    exact AS (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US}) // 7
                   AS week_idx,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact
        FROM events GROUP BY 1
    )
    SELECT a.week_idx, e.n_users_exact, a.n_registers_hit,
           CAST(a.sum_scaled AS BIGINT) AS sum_scaled,
           (CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M})
               * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
               / CAST(a.sum_scaled AS DOUBLE) AS hll_estimate
    FROM agg a JOIN exact e ON a.week_idx = e.week_idx
    """,
    doc="two-level portable-HLL rollup: per-day register tables merged "
        "to weekly distinct-user estimates by register-max — the "
        "mergeable-sketch pattern (daily partials, rollup WITHOUT "
        "rescanning raw events) with even the merged estimate "
        "value-hash-checked; DataSketches rollup twin stays rows-only",
)
def sketch_hll_portable_rollup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cap, m = _HLL_RANK_CAP, _HLL_M
    h = ev.select(
        # integer floor division like the oracle's `//` — double
        # division + cast truncates (diverges pre-epoch) and leans on
        # microsecond granularity to dodge boundary round-up
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day_idx"),
        "user_id",
        F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT)").alias("hv"))
    rho = h.select(
        "day_idx", (F.col("hv") % m).alias("reg"),
        F.least(
            F.when(F.expr(f"hv div {m}") == 0, F.lit(55))
            .otherwise(F.lit(55)
                       - F.length(F.bin(F.expr(f"hv div {m}")))),
            F.lit(cap)).alias("r"))
    daily = rho.groupBy("day_idx", "reg").agg(F.max("r").alias("m"))
    merged = (daily.groupBy(F.expr("day_idx div 7").alias("week_idx"),
                            F.col("reg"))
              .agg(F.max("m").alias("m")))
    agg = merged.groupBy("week_idx").agg(
        F.count(F.lit(1)).alias("n_registers_hit"),
        (F.sum(F.expr(f"CAST(2 AS BIGINT) << ({cap} - m)")).cast("bigint")
         / F.lit(2)).cast("bigint").alias("present_sum"))
    agg = agg.withColumn(
        "sum_scaled",
        F.col("present_sum")
        + (F.lit(m) - F.col("n_registers_hit"))
        * F.expr(f"CAST(1 AS BIGINT) << {cap}")).drop("present_sum")
    exact = (ev.select(
        F.expr(f"(unix_micros(ts) div {_DAY_US}) div 7").alias("week_idx"),
        "user_id")
        .groupBy("week_idx")
        .agg(F.countDistinct("user_id").alias("n_users_exact")))
    est = (F.lit(_HLL_ALPHA * m * m)
           * F.expr(f"CAST(1 AS BIGINT) << {cap}").cast("double")
           / F.col("sum_scaled").cast("double"))
    return (agg.join(exact, "week_idx")
            .select("week_idx", "n_users_exact", "n_registers_hit",
                    "sum_scaled", est.alias("hll_estimate")))


@register(
    "sketch_hll_overlap_matrix",
    oracle=f"""
    WITH h AS (
        SELECT event_type, user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events
    ),
    rho AS (
        SELECT event_type, hv % {_HLL_M} AS reg,
               least(CASE WHEN hv // {_HLL_M} = 0 THEN 55
                          ELSE 55 - length(bin(hv // {_HLL_M})) END,
                     {_HLL_RANK_CAP}) AS r
        FROM h
    ),
    regs AS (
        SELECT event_type, reg, MAX(r) AS m FROM rho GROUP BY 1, 2
    ),
    grid AS (
        SELECT t.event_type, g.reg
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(range(0, {_HLL_M})) AS reg) g
    ),
    dense AS (
        SELECT grid.event_type, grid.reg,
               coalesce(regs.m, 0) AS m
        FROM grid LEFT JOIN regs
          ON grid.event_type = regs.event_type AND grid.reg = regs.reg
    ),
    pairreg AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.m AS ma, b.m AS mb, greatest(a.m, b.m) AS mu
        FROM dense a JOIN dense b
          ON a.reg = b.reg AND a.event_type < b.event_type
    ),
    sums AS (
        SELECT type_a, type_b,
               CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_CAP} - ma))
                    AS BIGINT) AS sa,
               CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_CAP} - mb))
                    AS BIGINT) AS sb,
               CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_CAP} - mu))
                    AS BIGINT) AS su
        FROM pairreg GROUP BY 1, 2
    ),
    exact AS (
        SELECT a.type_a, b.type_b,
               CAST(COUNT(*) AS BIGINT) AS n_overlap_exact
        FROM (SELECT DISTINCT event_type AS type_a, user_id FROM events) a
        JOIN (SELECT DISTINCT event_type AS type_b, user_id FROM events) b
          ON a.user_id = b.user_id AND a.type_a < b.type_b
        GROUP BY 1, 2
    )
    SELECT s.type_a, s.type_b,
           coalesce(e.n_overlap_exact, 0) AS n_overlap_exact,
           (CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M})
               * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
               / CAST(s.sa AS DOUBLE)
             + (CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M})
               * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
               / CAST(s.sb AS DOUBLE)
             - (CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M})
               * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
               / CAST(s.su AS DOUBLE) AS est_overlap,
           (CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M})
               * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})
               / CAST(s.su AS DOUBLE) AS est_union
    FROM sums s LEFT JOIN exact e
      ON s.type_a = e.type_a AND s.type_b = e.type_b
    """,
    doc="HLL set algebra: per-event-type user sketches merged pairwise "
        "(register max = sketch UNION — the operation HLL supports "
        "losslessly) + inclusion-exclusion overlap estimates for every "
        "type pair, with the exact overlap alongside. One shuffle over "
        "events to 64-register state per type; the pair matrix is "
        "register-level arithmetic on |types|^2 x 64 rows. At 100 TB "
        "the sketches are the ONLY state that moves — this is how "
        "audience-overlap questions get answered without a distinct "
        "join per pair. Integer register math keeps even the estimates "
        "value-hash-checkable. NOTE: the n_overlap_exact column (a "
        "user-level distinct self-join) is the verification harness, "
        "same as the exact columns on every portable-sketch entry — a "
        "production overlap query drops it and moves ONLY sketches.",
    bench=True,
)
def sketch_hll_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cap, m, alpha = _HLL_RANK_CAP, _HLL_M, _HLL_ALPHA
    h = ev.select(
        "event_type", "user_id",
        F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT)").alias("hv"))
    rho = h.select(
        "event_type", (F.col("hv") % m).alias("reg"),
        F.least(
            F.when(F.expr(f"hv div {m}") == 0, F.lit(55))
            .otherwise(F.lit(55)
                       - F.length(F.bin(F.expr(f"hv div {m}")))),
            F.lit(cap)).alias("r"))
    regs = rho.groupBy("event_type", "reg").agg(F.max("r").alias("m"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(
            ev.sparkSession.range(0, m).select(
                F.col("id").cast("int").alias("reg"))))
    dense = (grid.join(regs, ["event_type", "reg"], "left")
             .select("event_type", "reg",
                     F.coalesce("m", F.lit(0)).alias("m")))
    a = dense.select(F.col("event_type").alias("type_a"), "reg",
                     F.col("m").alias("ma"))
    b = dense.select(F.col("event_type").alias("type_b"), "reg",
                     F.col("m").alias("mb"))
    pairreg = (a.join(b, "reg")
               .where(F.col("type_a") < F.col("type_b"))
               .withColumn("mu", F.greatest("ma", "mb")))
    s1 = F.expr(f"CAST(1 AS BIGINT) << ({cap} - ma)")
    s2 = F.expr(f"CAST(1 AS BIGINT) << ({cap} - mb)")
    s3 = F.expr(f"CAST(1 AS BIGINT) << ({cap} - mu)")
    sums = (pairreg.groupBy("type_a", "type_b")
            .agg(F.sum(s1).cast("bigint").alias("sa"),
                 F.sum(s2).cast("bigint").alias("sb"),
                 F.sum(s3).cast("bigint").alias("su")))
    def est(col):
        return (F.lit(alpha * m * m)
                * F.expr(f"CAST(1 AS BIGINT) << {cap}").cast("double")
                / F.col(col).cast("double"))
    du = ev.select("event_type", "user_id").distinct()
    exact = (du.select(F.col("event_type").alias("type_a"),
                       "user_id")
             .join(du.select(F.col("event_type").alias("type_b"),
                             "user_id"), "user_id")
             .where(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_overlap_exact")))
    return (sums.join(exact, ["type_a", "type_b"], "left")
            .select("type_a", "type_b",
                    F.coalesce("n_overlap_exact", F.lit(0))
                    .cast("bigint").alias("n_overlap_exact"),
                    (est("sa") + est("sb") - est("su"))
                    .alias("est_overlap"),
                    est("su").alias("est_union")))


# ---------------------------------------------------------------------------
# Engine-portable mergeable percentile sketch: a fixed-width histogram
# over a declared value domain. Bin assignment is integer math on
# centi-units (round(value*100) — the events.value column carries two
# real decimals), so the sketch state — (group, bin, count) — and the
# discrete percentile read off its cumulative sums are value-hash-
# checkable across engines, unlike t-digest/KLL whose internals are
# implementation-defined. Rank convention: the percentile is the value
# ceiling of the first bin whose cumulative count reaches ceil(q * n)
# — a <= one-bin-width overestimate, reported alongside the bin width
# so the error bound is visible in the output. Merging partial
# histograms is count addition (associative + commutative), which is
# what makes this the 100 TB shape: map-side partials carry at most
# N_BINS rows per group, and a day->month rollup is a groupBy-sum,
# never a re-scan.
# ---------------------------------------------------------------------------

_HIST_BINS = 512
_HIST_LO_C = 0          # domain lower bound, centi-units
_HIST_HI_C = 100_000    # domain upper bound (1000.00), centi-units
_HIST_W_C = (_HIST_HI_C - _HIST_LO_C) // _HIST_BINS


@register(
    "sketch_histogram_percentiles",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               greatest(least(CAST(round(value * 100) AS BIGINT)
                     // {_HIST_W_C}, {_HIST_BINS - 1}), 0) AS bin
        FROM events
    ),
    hist AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                   AS cum_cnt,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM hist
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.50 * n) AS BIGINT)
                         THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
               / 100.0 AS p50_ub,
           CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.95 * n) AS BIGINT)
                         THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
               / 100.0 AS p95_ub,
           CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.99 * n) AS BIGINT)
                         THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
               / 100.0 AS p99_ub,
           CAST({_HIST_W_C} AS DOUBLE) / 100.0 AS bin_width
    FROM cum GROUP BY event_type, n
    """,
    doc="engine-portable mergeable percentile sketch: fixed 512-bin "
        "integer histogram of event value per type; p50/p95/p99 read "
        "as the first-bin-reaching-rank UPPER BOUND with the bin width "
        "reported as the visible error bar. Histogram merge = count "
        "addition, so partial sketches roll up without rescans — the "
        "hash-checkable counterpart to approx_percentile (whose "
        "sketch internals are engine-specific).",
    bench=True,
)
def sketch_histogram_percentiles(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w, nb = _HIST_W_C, _HIST_BINS
    binned = ev.select(
        "event_type",
        F.greatest(
            F.least(F.expr(f"CAST(round(value * 100) AS BIGINT) div {w}"),
                    F.lit(nb - 1)),
            F.lit(0)).alias("bin"))
    hist = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window
    wcum = (Window.partitionBy("event_type").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("event_type")
    cum = (hist.withColumn("cum_cnt", F.sum("cnt").over(wcum))
           .withColumn("n", F.sum("cnt").over(wall)))

    def ub(q: float):
        rank = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        hit = F.when(F.col("cum_cnt") >= rank,
                     (F.col("bin") + 1) * w)
        return (F.min(hit).cast("double") / F.lit(100.0))

    return (cum.groupBy("event_type", "n")
            .agg(ub(0.50).alias("p50_ub"),
                 ub(0.95).alias("p95_ub"),
                 ub(0.99).alias("p99_ub"))
            .select("event_type", F.col("n").cast("bigint").alias("n"),
                    "p50_ub", "p95_ub", "p99_ub",
                    (F.lit(float(w)) / F.lit(100.0)).alias("bin_width")))


@register(
    "sketch_histogram_weekly_rollup",
    oracle=f"""
    WITH c AS (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US}) AS day_idx,
               greatest(least(CAST(round(value * 100) AS BIGINT)
                     // {_HIST_W_C}, {_HIST_BINS - 1}), 0) AS bin
        FROM events
    ),
    daily AS (  -- the persisted per-day partial sketches
        SELECT day_idx, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY 1, 2
    ),
    weekly AS (  -- rollup = COUNT ADDITION over partials, no re-scan
        SELECT day_idx // 7 AS week_idx, bin,
               CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM daily GROUP BY 1, 2
    ),
    cum AS (
        SELECT week_idx, bin, cnt,
               SUM(cnt) OVER (PARTITION BY week_idx ORDER BY bin)
                   AS cum_cnt,
               SUM(cnt) OVER (PARTITION BY week_idx) AS n
        FROM weekly
    )
    SELECT CAST(week_idx AS BIGINT) AS week_idx, CAST(n AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.50 * n) AS BIGINT)
                         THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
               / 100.0 AS p50_ub,
           CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.99 * n) AS BIGINT)
                         THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
               / 100.0 AS p99_ub
    FROM cum GROUP BY week_idx, n
    """,
    doc="two-level mergeable-percentile rollup: per-day partial "
        "histograms (what a 100 TB pipeline would persist) merged to "
        "weekly p50/p99 by COUNT ADDITION — the raw rows are scanned "
        "once for the daily partials and never again; the weekly "
        "percentile is read off the merged cumulative bins. Same "
        "integer-exact state as sketch_histogram_percentiles, so the "
        "whole rollup value-hash-matches the DuckDB restatement.",
)
def sketch_histogram_weekly_rollup(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w, nb = _HIST_W_C, _HIST_BINS
    binned = ev.select(
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day_idx"),
        F.greatest(
            F.least(F.expr(f"CAST(round(value * 100) AS BIGINT) div {w}"),
                    F.lit(nb - 1)),
            F.lit(0)).alias("bin"))
    daily = binned.groupBy("day_idx", "bin").agg(
        F.count(F.lit(1)).alias("cnt"))
    weekly = (daily.groupBy(F.expr("day_idx div 7").alias("week_idx"),
                            "bin")
              .agg(F.sum("cnt").cast("bigint").alias("cnt")))
    from pyspark.sql import Window
    wcum = (Window.partitionBy("week_idx").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("week_idx")
    cum = (weekly.withColumn("cum_cnt", F.sum("cnt").over(wcum))
           .withColumn("n", F.sum("cnt").over(wall)))

    def ub(q: float):
        rank = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return (F.min(F.when(F.col("cum_cnt") >= rank,
                             (F.col("bin") + 1) * w))
                .cast("double") / F.lit(100.0))

    return (cum.groupBy("week_idx", "n")
            .agg(ub(0.50).alias("p50_ub"), ub(0.99).alias("p99_ub"))
            .select(F.col("week_idx").cast("bigint").alias("week_idx"),
                    F.col("n").cast("bigint").alias("n"),
                    "p50_ub", "p99_ub"))


# ---------------------------------------------------------------------------
# Engine-portable count-min sketch — heavy-hitter token counts without
# a full token-dictionary shuffle.  At 100 TB the groupBy(token) key
# domain is billions of distinct tokens; the CMS build instead
# partially aggregates (seed, bucket) cells in-partition, so the
# shuffle carries at most d*w rows *per input partition* regardless of
# token cardinality, and the finished sketch is d*w integer cells that
# merge by plain addition (per-day sketches sum to the monthly one).
# The d hash rows are independent 15-bit fields of ONE md5-prefix
# hash (Kirsch–Mitzenmacher-style derived hashing): one md5 per token
# occurrence, not d — this is the hot-path cost at 100 TB.  All state
# is BIGINT, so the whole report — including each estimate —
# value-hash-matches the DuckDB restatement.  The exact counts ride
# along only to expose the classic CMS property (estimate >= truth,
# overestimate bounded by collisions), locked in tests.
# ---------------------------------------------------------------------------

_CMS_D = 4       # hash rows (15-bit fields of the 60-bit hash)
_CMS_W = 512     # buckets per row (<= 2^15 so fields stay independent)
_CMS_TOPK = 20   # heavy hitters reported

# seed i reads bits [15i, 15i+15) of the hash:  (hv div 2^(15i)) % w
_CMS_STACK_SPARK = ("stack(" + str(_CMS_D) + ", " + ", ".join(
    f"{i}, CAST((hv div {1 << (15 * i)}) % {_CMS_W} AS BIGINT)"
    for i in range(_CMS_D)) + ") AS (seed, bucket)")
_CMS_SEEDS_DUCK = "[" + ", ".join(str(s) for s in range(_CMS_D)) + "]"
_CMS_HV_DUCK = ("CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)")
_CMS_HV_SPARK = ("CAST(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT)")


@register(
    "sketch_countmin_heavy_hitters",
    bench=True,
    oracle=rf"""
    WITH tok AS (
        SELECT t.token
        FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                  AS token
              FROM documents) t
        WHERE t.token <> ''
    ),
    hashed AS (SELECT {_CMS_HV_DUCK} AS hv FROM tok),
    cells AS (
        SELECT s.seed,
               (hv // (CAST(1 AS BIGINT) << (15 * s.seed))) % {_CMS_W}
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM hashed, (SELECT unnest({_CMS_SEEDS_DUCK}) AS seed) s
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM tok GROUP BY token
    ),
    cand AS (
        SELECT token, n_exact, {_CMS_HV_DUCK} AS hv FROM exact
        ORDER BY n_exact DESC, token LIMIT {_CMS_TOPK}
    )
    SELECT cand.token, cand.n_exact,
           MIN(cl.c) AS cms_estimate,
           MIN(cl.c) - cand.n_exact AS overestimate
    FROM cand,
         (SELECT unnest({_CMS_SEEDS_DUCK}) AS seed) s,
         cells cl
    WHERE cl.seed = s.seed
      AND cl.bucket = (cand.hv
                       // (CAST(1 AS BIGINT) << (15 * s.seed)))
                      % {_CMS_W}
    GROUP BY cand.token, cand.n_exact
    """,
    doc="engine-portable count-min sketch (d=4, w=512): token "
        "heavy-hitter estimates from a fixed d*w cell table built with "
        "in-partition partial aggregation — the 100 TB substitute for "
        "a full token-dictionary shuffle; ONE md5 per occurrence "
        "(rows are independent 15-bit hash fields), estimates "
        "integer-exact and value-hash-checked, with the exact count "
        "alongside so every row shows its overestimate",
)
def sketch_countmin_heavy_hitters(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    tok = (docs.select(F.explode(
        F.expr(r"split(lower(trim(text)), '\\s+')")).alias("token"))
        .where(F.col("token") != ""))
    # sketch build: one md5 per occurrence, stack() fans the d
    # (seed, bucket) increments out of its bit-fields; hash-partial-agg
    # keeps the shuffle at <= d*w rows per input partition no matter
    # how many distinct tokens exist
    cells = (tok.select(F.expr(_CMS_HV_SPARK).alias("hv"))
             .select(F.expr(_CMS_STACK_SPARK))
             .groupBy("seed", "bucket")
             .agg(F.count(F.lit(1)).alias("c")))
    # verification side only: exact counts to report the overestimate
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    cand = (exact.orderBy(F.desc("n_exact"), "token").limit(_CMS_TOPK))
    probes = (cand.select("token", "n_exact",
                          F.expr(_CMS_HV_SPARK).alias("hv"))
              .select("token", "n_exact", F.expr(_CMS_STACK_SPARK)))
    # cells is d*w rows at most — broadcast side of the probe join
    return (probes.join(F.broadcast(cells), ["seed", "bucket"])
            .groupBy("token", "n_exact")
            .agg(F.min("c").alias("cms_estimate"))
            .select("token", "n_exact", "cms_estimate",
                    (F.col("cms_estimate") - F.col("n_exact"))
                    .alias("overestimate")))


# ---------------------------------------------------------------------------
# Engine-portable Bloom-filter semi-join prefilter.  The 100 TB
# pattern: instead of broadcasting the build side's KEY SET (which
# grows with the data), aggregate it into a fixed-size bit array —
# here 256 words x 63 usable bits (DuckDB raises on BIGINT<<63, so
# the portable formulation packs 63 bits per word) — broadcast THAT,
# and drop non-matching probe rows before the expensive shuffle join.
# No false negatives by construction; false positives are quantified
# in the output because the exact semi-join rides along.  All hashing
# is the md5-prefix trick, all state BIGINT, so every number in the
# report value-hash-matches DuckDB.
# ---------------------------------------------------------------------------

_BF_WORDS = 256                  # filter words
_BF_BITS = _BF_WORDS * 63        # usable bits (63 per word, see above)
_BF_K = 3                        # hash functions


@register(
    "join_bloom_prefilter_stats",
    bench=True,
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    seeds AS (SELECT unnest([0, 1, 2]) AS seed),
    bhash AS (
        SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM build
    ),
    bpos AS (
        SELECT ((hv // 1073741824)
                + seed * (2 * (hv % 1073741824) + 1)) % {_BF_BITS} AS pos
        FROM bhash, seeds
    ),
    filt AS (
        SELECT pos // 63 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER))
                   AS bits
        FROM bpos GROUP BY 1
    ),
    probe AS (
        SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
    ),
    phash AS (
        SELECT k, CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)
                       AS BIGINT) AS hv
        FROM probe
    ),
    ppos AS (
        SELECT phash.k, seeds.seed,
               ((hv // 1073741824)
                + seed * (2 * (hv % 1073741824) + 1)) % {_BF_BITS} AS pos
        FROM phash, seeds
    ),
    hits AS (
        SELECT p.k,
               SUM(CASE WHEN f.bits IS NOT NULL
                         AND (f.bits & (CAST(1 AS BIGINT)
                                        << CAST(p.pos % 63 AS INTEGER)))
                             <> 0
                        THEN 1 ELSE 0 END) AS n_hit
        FROM ppos p LEFT JOIN filt f ON p.pos // 63 = f.word
        GROUP BY p.k
    ),
    pass AS (SELECT k FROM hits WHERE n_hit = {_BF_K}),
    truth AS (SELECT k FROM probe WHERE k IN (SELECT k FROM build))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_bloom_pass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_match,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pass)
               - (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
               AS n_false_positive
    """,
    doc="portable Bloom-filter semi-join prefilter (16k-bit, k=3): "
        "urgent-order custkeys aggregated to a 256-word bit array via "
        "bit_or, probe side filtered by k md5-hash probes before the "
        "exact semi-join — the fixed-size alternative to broadcasting "
        "a key set that grows with the data; zero false negatives by "
        "construction (locked in tests), false positives counted in "
        "the report",
)
def join_bloom_prefilter_stats(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    build = (orders.where(F.col("o_orderpriority") == "1-URGENT")
             .select(F.col("o_custkey").cast("bigint").alias("k"))
             .distinct())
    seeds = F.explode(F.expr("array(0, 1, 2)")).alias("seed")
    hv = F.expr("CAST(conv(substr(md5(CAST(k AS STRING)), 1, 15), 16, 10)"
                " AS BIGINT)").alias("hv")

    def pos_col():
        # Kirsch-Mitzenmacher double hashing: the k positions are
        # h1 + seed*h2 from ONE 60-bit md5 (h2 forced odd) — one hash
        # evaluation per key in the hot path, not k
        return (F.expr("((hv div 1073741824) "
                       "+ seed * (2 * (hv % 1073741824) + 1))")
                % _BF_BITS)

    # the filter: <= 256 rows regardless of how many build keys exist
    filt = (build.select(hv)
            .select("hv", seeds)
            .select(pos_col().alias("pos"))
            .select(F.expr("pos div 63").alias("word"),
                    F.expr("CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)")
                    .alias("mask"))
            .groupBy("word").agg(F.expr("bit_or(mask)").alias("bits")))
    probe = cust.select(F.col("c_custkey").cast("bigint").alias("k"))
    ppos = (probe.select("k", hv)
            .select("k", "hv", seeds)
            .select("k", pos_col().alias("pos")))
    hits = (ppos.join(F.broadcast(filt),
                      F.expr("pos div 63") == F.col("word"), "left")
            .select("k", F.when(
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(
                    F.expr("CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)"))
                   != 0), 1).otherwise(0).alias("hit"))
            .groupBy("k").agg(F.sum("hit").alias("n_hit")))
    bloom_pass = hits.where(F.col("n_hit") == _BF_K).select("k")
    truth = probe.join(build, "k", "left_semi")
    counts = [
        build.agg(F.count(F.lit(1)).alias("n_build_keys")),
        probe.agg(F.count(F.lit(1)).alias("n_probe_rows")),
        bloom_pass.agg(F.count(F.lit(1)).alias("n_bloom_pass")),
        truth.agg(F.count(F.lit(1)).alias("n_true_match")),
    ]
    row = counts[0]
    for c in counts[1:]:
        row = row.crossJoin(F.broadcast(c))
    return row.select(
        "n_build_keys", "n_probe_rows", "n_bloom_pass", "n_true_match",
        (F.col("n_bloom_pass") - F.col("n_true_match"))
        .alias("n_false_positive"))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) join-cardinality estimation — the planning
# sketch behind "how big is this join going to be?" at 100 TB.  Each
# side's distinct-key set is summarized by its k smallest md5-prefix
# hashes (a per-partition top-k then a k-row merge — no key-domain
# shuffle); distinct counts come from the k-th minimum ((k-1)*M/h_k),
# and the intersection via the standard KMV rho estimator over the
# union sketch.  The sketch state is BIGINT hashes and the estimates
# are single mult/div chains, so the whole report value-hash-matches
# DuckDB.  Exact counts ride along to expose the estimation error.
# ---------------------------------------------------------------------------

_KMV_K = 128
_KMV_M = 1 << 60   # hash space: 15 hex chars = 60 bits


@register(
    "sketch_kmv_join_cardinality",
    oracle=f"""
    WITH a_keys AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k
                    FROM orders),
    b_keys AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k
               FROM customer),
    a_sk AS (
        SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM a_keys ORDER BY hv LIMIT {_KMV_K}
    ),
    b_sk AS (
        SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM b_keys ORDER BY hv LIMIT {_KMV_K}
    ),
    u_sk AS (
        SELECT hv FROM (SELECT hv FROM a_sk UNION SELECT hv FROM b_sk)
        ORDER BY hv LIMIT {_KMV_K}
    ),
    rho AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_both
        FROM u_sk
        WHERE hv IN (SELECT hv FROM a_sk)
          AND hv IN (SELECT hv FROM b_sk)
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a_keys)
               AS n_orders_keys_exact,
           CAST({_KMV_K - 1} AS DOUBLE) * CAST({_KMV_M} AS DOUBLE)
               / CAST((SELECT MAX(hv) FROM a_sk) AS DOUBLE)
               AS n_orders_keys_est,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b_keys)
               AS n_customer_keys_exact,
           CAST({_KMV_K - 1} AS DOUBLE) * CAST({_KMV_M} AS DOUBLE)
               / CAST((SELECT MAX(hv) FROM b_sk) AS DOUBLE)
               AS n_customer_keys_est,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a_keys
            WHERE k IN (SELECT k FROM b_keys)) AS n_common_keys_exact,
           (SELECT CAST(n_both AS DOUBLE) FROM rho)
               / CAST({_KMV_K} AS DOUBLE)
               * (CAST({_KMV_K - 1} AS DOUBLE)
                  * CAST({_KMV_M} AS DOUBLE)
                  / CAST((SELECT MAX(hv) FROM u_sk) AS DOUBLE))
               AS n_common_keys_est
    """,
    doc="KMV(128) join-cardinality planning sketch: per-side k-minimum "
        "md5 hashes -> distinct-key and key-intersection estimates "
        "with the exact counts alongside — join-size estimation "
        "without shuffling either key domain; estimates are portable "
        "mult/div chains so even they value-hash-match DuckDB",
)
def sketch_kmv_join_cardinality(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    k, M = _KMV_K, _KMV_M

    def sk(keys: DataFrame) -> DataFrame:
        # distinct -> hash -> global k smallest (TakeOrdered: top-k
        # per partition, k-row merge on the driver side of the plan)
        return (keys.distinct()
                .select(F.expr("CAST(conv(substr(md5(CAST(k AS STRING)),"
                               " 1, 15), 16, 10) AS BIGINT)").alias("hv"))
                .orderBy("hv").limit(k))

    a_keys = orders.select(F.col("o_custkey").cast("bigint").alias("k"))
    b_keys = cust.select(F.col("c_custkey").cast("bigint").alias("k"))
    a_sk, b_sk = sk(a_keys), sk(b_keys)
    u_sk = (a_sk.union(b_sk).distinct().orderBy("hv").limit(k))
    rho = (u_sk.join(a_sk, "hv", "left_semi")
           .join(b_sk, "hv", "left_semi")
           .agg(F.count(F.lit(1)).alias("n_both")))

    def est(sketch: DataFrame, name: str) -> DataFrame:
        return sketch.agg(
            (F.lit(float(k - 1)) * F.lit(float(M))
             / F.max("hv").cast("double")).alias(name))

    exact_a = a_keys.distinct().agg(
        F.count(F.lit(1)).alias("n_orders_keys_exact"))
    exact_b = b_keys.distinct().agg(
        F.count(F.lit(1)).alias("n_customer_keys_exact"))
    exact_common = (a_keys.distinct().join(b_keys.distinct(), "k",
                                           "left_semi")
                    .agg(F.count(F.lit(1)).alias("n_common_keys_exact")))
    u_est = u_sk.agg(F.max("hv").alias("u_hk"))
    parts = [exact_a, est(a_sk, "n_orders_keys_est"),
             exact_b, est(b_sk, "n_customer_keys_est"),
             exact_common, rho, u_est]
    row = parts[0]
    for p in parts[1:]:
        row = row.crossJoin(F.broadcast(p))
    return row.select(
        F.lit(k).cast("bigint").alias("k"),
        "n_orders_keys_exact", "n_orders_keys_est",
        "n_customer_keys_exact", "n_customer_keys_est",
        "n_common_keys_exact",
        (F.col("n_both").cast("double") / F.lit(float(k))
         * (F.lit(float(k - 1)) * F.lit(float(M))
            / F.col("u_hk").cast("double")))
        .alias("n_common_keys_est"))


@register(
    "sketch_countmin_weekly_rollup",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US} AS day_idx,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events
    ),
    daily AS (
        SELECT day_idx, s.seed,
               (hv // (CAST(1 AS BIGINT) << (15 * s.seed)))
                   % {_CMS_W} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM ev, (SELECT unnest({_CMS_SEEDS_DUCK}) AS seed) s
        GROUP BY 1, 2, 3
    ),
    weekly AS (
        SELECT day_idx // 7 AS week_idx, seed, bucket,
               CAST(SUM(c) AS BIGINT) AS c
        FROM daily GROUP BY 1, 2, 3
    ),
    exact AS (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US}) // 7
                   AS week_idx,
               user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM events GROUP BY 1, 2
    ),
    cand AS (
        SELECT week_idx, user_id, n_exact,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM exact
        QUALIFY ROW_NUMBER() OVER (PARTITION BY week_idx
                                   ORDER BY n_exact DESC, user_id) <= 5
    )
    SELECT cand.week_idx, CAST(cand.user_id AS BIGINT) AS user_id,
           cand.n_exact,
           MIN(w.c) AS cms_estimate
    FROM cand,
         (SELECT unnest({_CMS_SEEDS_DUCK}) AS seed) s,
         weekly w
    WHERE w.week_idx = cand.week_idx
      AND w.seed = s.seed
      AND w.bucket = (cand.hv
                      // (CAST(1 AS BIGINT) << (15 * s.seed)))
                     % {_CMS_W}
    GROUP BY 1, 2, 3
    """,
    doc="two-level count-min rollup: per-day (seed,bucket) cells "
        "summed to weekly sketches WITHOUT rescanning raw events — "
        "the merge-by-addition property as a driver-checked query "
        "(top-5 users per week with exact count + weekly-merged "
        "estimate); completes the mergeable-sketch trio with the "
        "HLL and histogram rollups",
    bench=True,
)
def sketch_countmin_weekly_rollup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day_idx"),
        "user_id",
        F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT)").alias("hv"))
    daily = (ev.select("day_idx", F.expr(_CMS_STACK_SPARK))
             .groupBy("day_idx", "seed", "bucket")
             .agg(F.count(F.lit(1)).alias("c")))
    weekly = (daily.groupBy(F.expr("day_idx div 7").alias("week_idx"),
                            "seed", "bucket")
              .agg(F.sum("c").cast("bigint").alias("c")))
    exact = (ev.select(F.expr("day_idx div 7").alias("week_idx"),
                       "user_id", "hv")
             .groupBy("week_idx", "user_id", "hv")
             .agg(F.count(F.lit(1)).alias("n_exact")))
    w = Window.partitionBy("week_idx").orderBy(F.desc("n_exact"),
                                               "user_id")
    cand = (exact.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= 5)
            .select("week_idx", "user_id", "n_exact",
                    F.expr(_CMS_STACK_SPARK)))
    return (cand.join(F.broadcast(weekly), ["week_idx", "seed", "bucket"])
            .groupBy("week_idx",
                     F.col("user_id").cast("bigint").alias("user_id"),
                     "n_exact")
            .agg(F.min("c").alias("cms_estimate")))


# ---------------------------------------------------------------------------
# KMV set algebra: pairwise audience union / intersection / Jaccard
# between event-type populations computed ONLY from the stored
# K-minimum-value sketches — the mergeability story that makes KMV a
# warehouse primitive: |A∪B| comes from the K smallest of the two
# sketches' values concatenated (no raw data revisit), |A∩B| by
# inclusion-exclusion, and every estimate is the deterministic chain
# (K-1) * 2^60 / kth_min on exact integers (if a sketch holds fewer
# than K values the estimate degrades to the exact count — also the
# standard rule).  The exact union count rides along so the report
# shows its own estimation error.  100 TB shape: sketches are <= K
# rows per type however large events grows; the pairwise stage works
# on bounded frames only.

@register(
    "sketch_kmv_set_ops",
    oracle=f"""
    WITH ut AS (
        SELECT DISTINCT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events
    ),
    sk AS (
        SELECT event_type, hv FROM (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY hv) AS rn
            FROM ut) t WHERE rn <= {_KMV_K}
    ),
    stat AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MAX(hv) AS BIGINT) AS kth
        FROM sk GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM stat a JOIN stat b ON a.event_type < b.event_type
    ),
    usk AS (
        SELECT p.type_a, p.type_b, s.hv,
               ROW_NUMBER() OVER (PARTITION BY p.type_a, p.type_b
                                  ORDER BY s.hv) AS rn
        FROM pairs p JOIN (SELECT DISTINCT event_type, hv FROM sk) s
          ON s.event_type IN (p.type_a, p.type_b)
        GROUP BY p.type_a, p.type_b, s.hv
    ),
    ustat AS (
        SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS ucnt,
               CAST(MAX(CASE WHEN rn <= {_KMV_K} THEN hv END)
                    AS BIGINT) AS ukth,
               CAST(SUM(CASE WHEN rn <= {_KMV_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ufill
        FROM usk GROUP BY type_a, type_b
    ),
    exact_u AS (
        SELECT p.type_a, p.type_b,
               CAST(COUNT(DISTINCT u.hv) AS BIGINT) AS exact_union
        FROM pairs p JOIN ut u ON u.event_type IN (p.type_a, p.type_b)
        GROUP BY p.type_a, p.type_b
    ),
    est AS (
        SELECT u.type_a, u.type_b,
               CASE WHEN sa.cnt < {_KMV_K}
                    THEN CAST(sa.cnt AS DOUBLE)
                    ELSE CAST({_KMV_K - 1} AS DOUBLE)
                         * CAST({_KMV_M} AS DOUBLE)
                         / CAST(sa.kth AS DOUBLE) END AS a_est,
               CASE WHEN sb.cnt < {_KMV_K}
                    THEN CAST(sb.cnt AS DOUBLE)
                    ELSE CAST({_KMV_K - 1} AS DOUBLE)
                         * CAST({_KMV_M} AS DOUBLE)
                         / CAST(sb.kth AS DOUBLE) END AS b_est,
               CASE WHEN u.ufill < {_KMV_K}
                    THEN CAST(u.ufill AS DOUBLE)
                    ELSE CAST({_KMV_K - 1} AS DOUBLE)
                         * CAST({_KMV_M} AS DOUBLE)
                         / CAST(u.ukth AS DOUBLE) END AS union_est,
               x.exact_union
        FROM ustat u
        JOIN stat sa ON sa.event_type = u.type_a
        JOIN stat sb ON sb.event_type = u.type_b
        JOIN exact_u x ON x.type_a = u.type_a AND x.type_b = u.type_b
    )
    SELECT type_a, type_b, CAST({_KMV_K} AS BIGINT) AS k,
           a_est, b_est, union_est,
           a_est + b_est - union_est AS intersect_est,
           (a_est + b_est - union_est) / union_est AS jaccard_est,
           exact_union
    FROM est
    """,
    doc="KMV(128) set algebra: pairwise audience union / intersection "
        "/ Jaccard between event-type populations from the stored "
        "sketches alone (union = K smallest of the concatenated "
        "sketch values — the mergeability property), inclusion-"
        "exclusion intersection, deterministic (K-1)*2^60/kth chains, "
        "below-K sketches degrade to exact counts; exact union count "
        "alongside so the report displays its own error",
    bench=True,
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    k, M = _KMV_K, _KMV_M
    # ut feeds BOTH the sketch build and the exact-union audit side;
    # left lazy, the events scan + per-row md5 + (type, hv) distinct
    # ran twice (the sketch's eager checkpoint below breaks exchange
    # reuse with the audit subtree — 0 ReusedExchange in the before
    # plan). Checkpointing the distinct frame pins ONE scan + ONE
    # distinct — at scale that halves the dominant full-table pass;
    # per-call localCheckpoint, so every invocation still computes
    # from the parquet inputs.
    ut = (ev.select("event_type",
                    F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)),"
                           " 1, 15), 16, 10) AS BIGINT)").alias("hv"))
          .distinct().localCheckpoint())
    wk = Window.partitionBy("event_type").orderBy("hv")
    sk = (ut.withColumn("rn", F.row_number().over(wk))
          .where(F.col("rn") <= k).select("event_type", "hv")
          .localCheckpoint())
    stat = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.max("hv").cast("bigint").alias("kth"))
    a = stat.select(F.col("event_type").alias("type_a"),
                    F.col("cnt").alias("cnt_a"),
                    F.col("kth").alias("kth_a"))
    b = stat.select(F.col("event_type").alias("type_b"),
                    F.col("cnt").alias("cnt_b"),
                    F.col("kth").alias("kth_b"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    # union sketch: K smallest of the two sketches' values, merged
    # from the STORED sketches only (<= 2K rows per pair)
    ska = sk.select(F.col("event_type").alias("type_a"), "hv")
    skb = sk.select(F.col("event_type").alias("type_b"), "hv")
    merged = (pairs.select("type_a", "type_b").join(ska, "type_a")
              .unionByName(pairs.select("type_a", "type_b")
                           .join(skb, "type_b")
                           .select("type_a", "type_b", "hv"))
              .distinct())
    wu = Window.partitionBy("type_a", "type_b").orderBy("hv")
    um = merged.withColumn("rn", F.row_number().over(wu))
    ustat = um.groupBy("type_a", "type_b").agg(
        F.max(F.when(F.col("rn") <= k, F.col("hv"))).cast("bigint")
        .alias("ukth"),
        F.sum(F.when(F.col("rn") <= k, 1).otherwise(0)).cast("bigint")
        .alias("ufill"))
    # exact union rides along for the error display (one distinct agg)
    uta = ut.select(F.col("event_type").alias("type_a"), "hv")
    utb = ut.select(F.col("event_type").alias("type_b"), "hv")
    exact = (pairs.select("type_a", "type_b").join(uta, "type_a")
             .unionByName(pairs.select("type_a", "type_b")
                          .join(utb, "type_b")
                          .select("type_a", "type_b", "hv"))
             .groupBy("type_a", "type_b")
             .agg(F.countDistinct("hv").cast("bigint")
                  .alias("exact_union")))

    def est(cnt, kth):
        return (F.when(cnt < k, cnt.cast("double"))
                .otherwise(F.lit(float(k - 1)) * F.lit(float(M))
                           / kth.cast("double")))

    j = (ustat.join(pairs, ["type_a", "type_b"])
         .join(exact, ["type_a", "type_b"]))
    a_est = est(F.col("cnt_a"), F.col("kth_a"))
    b_est = est(F.col("cnt_b"), F.col("kth_b"))
    u_est = est(F.col("ufill"), F.col("ukth"))
    return j.select(
        "type_a", "type_b", F.lit(k).cast("bigint").alias("k"),
        a_est.alias("a_est"), b_est.alias("b_est"),
        u_est.alias("union_est"),
        (a_est + b_est - u_est).alias("intersect_est"),
        ((a_est + b_est - u_est) / u_est).alias("jaccard_est"),
        "exact_union")


# ---------------------------------------------------------------------------
# Quantile-sketch accuracy audit: the histogram sketch above promises
# "true percentile <= reported upper bound, gap <= one bin width" —
# this query MEASURES that promise per event type against the exact
# nearest-rank percentile, the same audit-the-estimator discipline as
# sim_ann_recall_matrix (recall), dedup_jaccard_calibration (MinHash),
# and sim_embedding_quantize_stats (int8). The exact side picks the
# value AT rank ceil(q*n) via one per-type rank window (ties collapse
# to the same value, so the pick is deterministic); errors are plain
# double subtractions of values both engines hold bit-identically.
# ---------------------------------------------------------------------------


@register(
    "sketch_quantile_accuracy_report",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               greatest(least(CAST(round(value * 100) AS BIGINT)
                     // {_HIST_W_C}, {_HIST_BINS - 1}), 0) AS bin
        FROM events
    ),
    hist AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                   AS cum_cnt,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    ub AS (
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.50 * n) AS BIGINT)
                             THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
                   / 100.0 AS p50_ub,
               CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.95 * n) AS BIGINT)
                             THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
                   / 100.0 AS p95_ub,
               CAST(MIN(CASE WHEN cum_cnt >= CAST(ceil(0.99 * n) AS BIGINT)
                             THEN (bin + 1) * {_HIST_W_C} END) AS DOUBLE)
                   / 100.0 AS p99_ub
        FROM cum GROUP BY event_type, n
    ),
    ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS nn
        FROM events
    ),
    exact AS (
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(ceil(0.50 * nn) AS BIGINT)
                        THEN value END) AS p50_exact,
               MAX(CASE WHEN rn = CAST(ceil(0.95 * nn) AS BIGINT)
                        THEN value END) AS p95_exact,
               MAX(CASE WHEN rn = CAST(ceil(0.99 * nn) AS BIGINT)
                        THEN value END) AS p99_exact
        FROM ranked GROUP BY event_type
    )
    SELECT u.event_type, u.n,
           e.p50_exact, u.p50_ub, u.p50_ub - e.p50_exact AS p50_err,
           e.p95_exact, u.p95_ub, u.p95_ub - e.p95_exact AS p95_err,
           e.p99_exact, u.p99_ub, u.p99_ub - e.p99_exact AS p99_err,
           CAST({_HIST_W_C} AS DOUBLE) / 100.0 AS bin_width
    FROM ub u JOIN exact e ON e.event_type = u.event_type
    """,
    doc="quantile-sketch accuracy audit: the 512-bin histogram's "
        "p50/p95/p99 upper bounds vs the exact nearest-rank values "
        "per event type, with signed errors and the promised bin-width "
        "bound alongside — the audit-the-estimator discipline applied "
        "to quantiles (cf. recall matrix, Jaccard calibration); exact "
        "side is one per-type rank window, errors plain double "
        "subtractions (bit-stable)",
)
def sketch_quantile_accuracy_report(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ub = (sketch_histogram_percentiles(spark, sf_dir)
          .select("event_type", "n", "p50_ub", "p95_ub", "p99_ub"))
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("nn"))

    def at(q: float, out: str):
        r = F.ceil(F.lit(q) * F.col("nn")).cast("bigint")
        return F.max(F.when(F.col("rn") == r, F.col("value"))).alias(out)

    exact = (ranked.groupBy("event_type")
             .agg(at(0.50, "p50_exact"), at(0.95, "p95_exact"),
                  at(0.99, "p99_exact")))
    return (ub.join(exact, "event_type")
            .select("event_type", "n",
                    "p50_exact", "p50_ub",
                    (F.col("p50_ub") - F.col("p50_exact")).alias("p50_err"),
                    "p95_exact", "p95_ub",
                    (F.col("p95_ub") - F.col("p95_exact")).alias("p95_err"),
                    "p99_exact", "p99_ub",
                    (F.col("p99_ub") - F.col("p99_exact")).alias("p99_err"),
                    (F.lit(float(_HIST_W_C)) / F.lit(100.0))
                    .alias("bin_width")))
