"""Sketches: error bounds vs exact, and the lossless-merge identity
for HLL union."""

from __future__ import annotations

import pyspark.sql.functions as F

from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.sources.tables import load_table

REGISTRY = load_all()


def test_hll_error_bound_and_lossless_merge(spark, sf_dir):
    rollup = {r["event_type"]: r["approx_users"] for r in
              REGISTRY["sketch_distinct_users_rollup"].fn(
                  spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for et, est in rollup.items():
        assert abs(est - exact[et]) / exact[et] < 0.05, (et, est, exact[et])
    # lossless merge: union of daily sketches == one-shot sketch
    one_shot = {r["event_type"]: r["u"] for r in
                ev.groupBy("event_type")
                .agg(F.hll_sketch_estimate(
                    F.hll_sketch_agg(F.col("user_id"), F.lit(14)))
                    .alias("u")).collect()}
    assert rollup == one_shot


def test_approx_percentiles_bounds(spark, sf_dir):
    """approx_percentile returns a real data value at ~the requested
    rank; value-space distance is unbounded in a long tail, so the
    check is rank-space: the approx value must sit between the exact
    quantiles at p ± 0.02."""
    rows = REGISTRY["sketch_value_percentiles"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    brackets = {r["event_type"]: r["b"] for r in
                ev.groupBy("event_type")
                .agg(F.percentile(
                    F.col("value").cast("double"),
                    F.array(*[F.lit(p) for p in
                              (0.48, 0.52, 0.93, 0.97, 0.97, 1.0)]))
                    .alias("b"))
                .collect()}
    for r in rows:
        b = brackets[r["event_type"]]
        for approx, (lo, hi) in zip(
                (r["p50"], r["p95"], r["p99"]),
                ((b[0], b[1]), (b[2], b[3]), (b[4], b[5]))):
            assert lo - 1e-6 <= approx <= hi + 1e-6, (r, b)


def test_portable_hll_error_bound(spark, sf_dir):
    """The explicit engine-portable HLL(64) must stay within 3.5 sigma
    of exact (sigma = 1.04/sqrt(64) ~ 13%; formula verified unbiased to
    +2.7% over 30 random key sets in the design simulation). Groups
    share most orderkeys so deviations are correlated — one draw, not
    three independent ones."""
    from iq_to_hdl_migration_spark.queries import load_all

    rows = load_all()["sketch_hll_portable_distinct_orders"] \
        .fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        rel = abs(r.hll_estimate - r.n_orders_exact) / r.n_orders_exact
        assert rel < 0.455, (r.flag, rel)
        assert 1 <= r.n_registers_hit <= 64


def test_histogram_rollup_merge_identity(spark, sf_dir):
    """Merging daily partial histograms by count addition must yield
    the SAME weekly percentiles as computing each week's histogram
    from raw rows in one shot — the mergeability contract that lets a
    100 TB pipeline persist daily partials and never rescan."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.queries.sketch_queries import (
        _DAY_US, _HIST_BINS, _HIST_W_C)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    reg = load_all()
    rolled = sorted(
        tuple(r) for r in
        reg["sketch_hist" "ogram_weekly_rollup"].fn(spark, sf_dir).collect())

    ev = load_table(spark, sf_dir, "events")
    oneshot_binned = ev.select(
        F.expr(f"(unix_micros(ts) div {_DAY_US}) div 7").alias("week_idx"),
        F.least(F.expr(f"CAST(round(value * 100) AS BIGINT)"
                       f" div {_HIST_W_C}"),
                F.lit(_HIST_BINS - 1)).alias("bin"))
    hist = oneshot_binned.groupBy("week_idx", "bin").agg(
        F.count(F.lit(1)).alias("cnt"))
    wcum = (Window.partitionBy("week_idx").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("week_idx")
    cum = (hist.withColumn("cum_cnt", F.sum("cnt").over(wcum))
           .withColumn("n", F.sum("cnt").over(wall)))

    def ub(q):
        rank = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return (F.min(F.when(F.col("cum_cnt") >= rank,
                             (F.col("bin") + 1) * _HIST_W_C))
                .cast("double") / F.lit(100.0))

    oneshot = sorted(
        tuple(r) for r in
        cum.groupBy("week_idx", "n")
        .agg(ub(0.50).alias("p50_ub"), ub(0.99).alias("p99_ub"))
        .select(F.col("week_idx").cast("bigint").alias("week_idx"),
                F.col("n").cast("bigint").alias("n"),
                "p50_ub", "p99_ub").collect())
    assert rolled == oneshot and len(rolled) > 0


def test_histogram_percentile_upper_bound_property(spark, sf_dir):
    """The histogram percentile is defined as the value ceiling of the
    first bin reaching rank ceil(q*n): it must sit AT or ABOVE the
    exact discrete quantile, by strictly less than one bin width —
    the visible error bar the query reports."""
    import duckdb

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.sources.tables import table_path

    reg = load_all()
    got = {r["event_type"]: r for r in
           reg["sketch_histogram_percentiles"].fn(spark, sf_dir).collect()}
    exact = dict(duckdb.sql(
        f"""SELECT event_type,
                   [quantile_disc(value, 0.5), quantile_disc(value, 0.95),
                    quantile_disc(value, 0.99)]
            FROM read_parquet('{table_path(sf_dir, "events")}')
            GROUP BY event_type""").fetchall())
    assert got and set(got) == set(exact)
    for et, row in got.items():
        w = row["bin_width"]
        for ub, ex in zip((row["p50_ub"], row["p95_ub"], row["p99_ub"]),
                          exact[et]):
            assert 0 <= ub - ex < w + 1e-9, (et, ub, ex, w)


def test_countmin_overestimates_and_merges(spark, sf_dir):
    """CMS invariants: (1) every reported estimate >= the exact count
    (min over d rows can only overcount via collisions, never under);
    (2) the cell table is mergeable by addition — per-source sketches
    summed cell-wise equal the one-shot global sketch."""
    rows = REGISTRY["sketch_countmin_heavy_hitters"].fn(
        spark, sf_dir).collect()
    assert rows, "heavy-hitter report empty"
    for r in rows:
        assert r.cms_estimate >= r.n_exact, r
        assert r.overestimate == r.cms_estimate - r.n_exact

    from iq_to_hdl_migration_spark.queries.sketch_queries import (
        _CMS_HV_SPARK, _CMS_STACK_SPARK)
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select(
        "source",
        F.explode(F.expr(r"split(lower(trim(text)), '\\s+')"))
        .alias("token"))
        .where(F.col("token") != ""))
    cells = (tok.select("source", F.expr(_CMS_HV_SPARK).alias("hv"))
             .select("source", F.expr(_CMS_STACK_SPARK)))
    per_source_summed = (cells.groupBy("source", "seed", "bucket")
                         .agg(F.count(F.lit(1)).alias("c"))
                         .groupBy("seed", "bucket")
                         .agg(F.sum("c").alias("c")))
    one_shot = (cells.groupBy("seed", "bucket")
                .agg(F.count(F.lit(1)).alias("c")))
    diff = (per_source_summed.alias("a")
            .join(one_shot.alias("b"), ["seed", "bucket"], "full")
            .where((F.col("a.c").isNull()) | (F.col("b.c").isNull())
                   | (F.col("a.c") != F.col("b.c"))))
    assert diff.count() == 0, "cell-wise sum of per-source sketches " \
        "must equal the global sketch"


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """Bloom semi-join prefilter: every true match must pass the
    filter (no false negatives), pass count bounded by probe count,
    and the reported false-positive figure is internally consistent."""
    row = REGISTRY["join_bloom_prefilter_stats"].fn(
        spark, sf_dir).collect()[0]
    assert row.n_true_match <= row.n_bloom_pass <= row.n_probe_rows
    assert row.n_false_positive == row.n_bloom_pass - row.n_true_match
    assert row.n_false_positive >= 0


def test_scd2_intervals_tile_the_timeline(spark, sf_dir):
    """SCD2 output invariants: per user the intervals abut exactly
    (valid_to == next valid_from), versions are contiguous from 1,
    and exactly one row per user is current (valid_to IS NULL)."""
    from pyspark.sql import Window

    hist = REGISTRY["scd2_user_type_history"].fn(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("version")
    chk = (hist
           .withColumn("next_from", F.lead("valid_from_us").over(w))
           .withColumn("prev_ver", F.lag("version").over(w)))
    bad_abut = chk.where(
        F.col("next_from").isNotNull()
        & (F.col("valid_to_us") != F.col("next_from"))).count()
    assert bad_abut == 0, "intervals must abut exactly"
    bad_ver = chk.where(
        (F.col("prev_ver").isNull() & (F.col("version") != 1))
        | (F.col("prev_ver").isNotNull()
           & (F.col("version") != F.col("prev_ver") + 1))).count()
    assert bad_ver == 0, "versions must be contiguous from 1"
    cur = (hist.groupBy("user_id")
           .agg(F.sum(F.col("is_current").cast("int")).alias("n_cur"))
           .where(F.col("n_cur") != 1).count())
    assert cur == 0, "exactly one current row per user"


def test_kmv_estimates_within_error_bound(spark, sf_dir):
    """KMV(128) relative standard error is ~1/sqrt(k-2) = 8.9%; lock
    a 4-sigma envelope on the side estimates plus positivity and the
    intersection-bounded-by-union sanity."""
    r = REGISTRY["sketch_kmv_join_cardinality"].fn(
        spark, sf_dir).collect()[0]
    for est, exact in [(r.n_orders_keys_est, r.n_orders_keys_exact),
                       (r.n_customer_keys_est, r.n_customer_keys_exact)]:
        assert exact > 0 and est > 0
        assert abs(est - exact) / exact < 0.36, (est, exact)
    assert r.n_common_keys_exact <= min(r.n_orders_keys_exact,
                                        r.n_customer_keys_exact)
    assert r.n_common_keys_est >= 0


def test_histogram_bin_clamp_negative_domain(spark):
    """Round-6 ADVICE: a negative events.value must land in bin 0 —
    identically in Spark and DuckDB — not in a negative bin that would
    silently corrupt cumulative ranks while still hash-matching. Runs
    the exact binning expressions both engines use over a domain that
    includes negatives and the upper overflow."""
    import duckdb

    from iq_to_hdl_migration_spark.queries.sketch_queries import (
        _HIST_BINS, _HIST_W_C)
    import pyspark.sql.functions as F

    vals = [-1234.5, -195.0, -1.0, -0.004, 0.0, 0.004, 1.0,
            195.0, 999.99, 1000.0, 5_000_000.0]
    sdf = spark.createDataFrame([(v,) for v in vals], "value double")
    got_spark = [r.bin for r in sdf.select(
        F.greatest(
            F.least(F.expr(f"CAST(round(value * 100) AS BIGINT)"
                           f" div {_HIST_W_C}"),
                    F.lit(_HIST_BINS - 1)),
            F.lit(0)).alias("bin")).collect()]
    got_duck = [r[0] for r in duckdb.sql(
        f"""SELECT greatest(least(CAST(round(v * 100) AS BIGINT)
                                  // {_HIST_W_C}, {_HIST_BINS - 1}), 0)
            FROM (SELECT unnest({vals!r}) AS v)""").fetchall()]
    assert got_spark == got_duck
    assert all(0 <= b <= _HIST_BINS - 1 for b in got_spark)
    assert got_spark[0] == got_spark[1] == got_spark[2] == 0  # negatives
    assert got_spark[-1] == _HIST_BINS - 1                    # overflow
