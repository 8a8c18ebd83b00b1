"""Temporal-join queries: as-of join (event attribution) and binned
range join (value-bracket enrichment), backed by `operators/temporal`.

The reference has no temporal joins (SURVEY §2.10); these belong to
the LLM-training-pipeline operator set.  Oracles use DuckDB's native
ASOF JOIN / inequality join so the check is a genuinely independent
formulation of the same semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.operators.temporal import asof_join, bin_range_join
from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.session import local_frame
from iq_to_hdl_migration_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# as-of join: purchase → most recent prior click by the same user
# (classic last-touch attribution).  (user_id, ts) is unique in the
# events table, so the result is deterministic.

@register(
    "asof_purchase_attribution",
    oracle="""
    SELECT p.event_id,
           CAST(p.user_id AS BIGINT) AS user_id,
           c.event_id AS ref_event_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
    """,
    doc="as-of join via union + running last() window — one shuffle on "
        "user_id, linear cost; oracle is DuckDB's native ASOF JOIN",
    bench=True,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"))
    joined = asof_join(purchases, clicks, on="user_id", ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.col("ref_click_id").alias("ref_event_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ref_ts")))
        .cast("bigint").alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# binned range join: lineitem prices into irregular price brackets.
# The bracket table is tiny here (broadcast), but the operator's plan —
# explode intervals to bins, equi-join on bin, exact-filter after —
# is the one that survives when BOTH sides are large.

_BRACKETS = [
    ("budget", 0.0, 5000.0),
    ("economy", 5000.0, 20000.0),
    ("mid", 20000.0, 45000.0),
    ("premium", 45000.0, 80000.0),
    ("luxury", 80000.0, 110000.0),
]

_BRACKET_VALUES = ", ".join(
    f"('{label}', {lo}, {hi})" for label, lo, hi in _BRACKETS)


@register(
    "range_join_price_bracket",
    oracle=f"""
    SELECT b.label,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN (VALUES {_BRACKET_VALUES}) b(label, lo, hi)
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY b.label
    """,
    doc="range join via interval binning + equi-join (inequality joins "
        "are BNLJ in Spark and do not scale); oracle is a DuckDB "
        "inequality join over the same brackets",
)
def range_join_price_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_discount")
    ranges = local_frame(spark, _BRACKETS, "label string, lo double, hi double")
    joined = bin_range_join(li, ranges, point="l_extendedprice")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (
        joined.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# latest-row-per-key (last-write-wins upsert view / SCD type-1 compact):
# the canonical "current state" query over an append-only event log.

@register(
    "events_latest_per_user",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id, event_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="last-write-wins compaction via row_number window — the "
        "dedup-to-current-state step of an incremental ingest pipeline",
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type",
                F.col("value").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# SCD2 history builder: collapse each user's event-type timeline into
# type-2 slowly-changing-dimension rows [valid_from, valid_to) with a
# version counter and an is_current flag — the standard
# dimension-history operator of a warehouse ingest, built from the
# gaps-and-islands pattern (lag -> change flag -> running sum ->
# per-run aggregate).  One shuffle on user_id; every window in the
# chain shares that partitioning so Spark reuses a single exchange.
# Validity bounds are emitted as epoch micros (BIGINT) so the row
# hash is timezone-proof across engines.

@register(
    "scd2_user_type_history",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP),
                                              event_id) AS prev_type
        FROM events
    ),
    runs AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(CASE WHEN prev_type IS NULL
                          OR prev_type <> event_type
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS version
        FROM e
    ),
    hist AS (
        SELECT user_id, version, event_type,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, version, event_type
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(version AS BIGINT) AS version,
           event_type,
           epoch_us(valid_from) AS valid_from_us,
           epoch_us(lead(valid_from)
                    OVER (PARTITION BY user_id ORDER BY version))
               AS valid_to_us,
           n_events,
           (lead(valid_from)
                OVER (PARTITION BY user_id ORDER BY version) IS NULL)
               AS is_current
    FROM hist
    """,
    doc="SCD2 dimension history: per-user event-type runs as "
        "[valid_from, valid_to) type-2 rows with version + is_current "
        "— gaps-and-islands (lag, running sum, per-run min/count, "
        "lead) over one user_id exchange; bounds as epoch micros so "
        "the hash is tz-proof",
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (ev.withColumn("prev_type", F.lag("event_type").over(w_seq))
            .withColumn(
                "version",
                F.sum(F.when(F.col("prev_type").isNull()
                             | (F.col("prev_type") != F.col("event_type")),
                             1).otherwise(0)).over(w_seq)))
    hist = (runs.groupBy("user_id", "version", "event_type")
            .agg(F.min("ts").alias("valid_from"),
                 F.count(F.lit(1)).alias("n_events")))
    w_ver = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from").over(w_ver)
    return (hist
            .withColumn("valid_to", nxt)
            .select(
                F.col("user_id").cast("bigint").alias("user_id"),
                F.col("version").cast("bigint").alias("version"),
                "event_type",
                F.unix_micros("valid_from").alias("valid_from_us"),
                F.unix_micros("valid_to").alias("valid_to_us"),
                "n_events",
                F.col("valid_to").isNull().alias("is_current")))


# ---------------------------------------------------------------------------
# Point-in-time (versioned) join: enrich a fact stream with the
# dimension version that was CURRENT at each fact's timestamp — the
# correctness-critical join of a warehouse with SCD2 dimensions
# (joining to "latest" silently rewrites history).  Facts here are
# purchase events; the dimension is the SCD2 type history above.  The
# interval predicate [valid_from, valid_to) matches each fact to
# exactly one version, implemented as an equi-join on user_id plus a
# range filter — one shuffle on the join key; the interval filter
# prunes inside the joined partitions.

@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP),
                                              event_id) AS prev_type
        FROM events
    ),
    runs AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(CASE WHEN prev_type IS NULL
                          OR prev_type <> event_type
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS version
        FROM e
    ),
    hist AS (
        SELECT user_id, version, event_type AS era_type,
               epoch_us(MIN(ts)) AS valid_from_us,
               epoch_us(lead(MIN(ts))
                        OVER (PARTITION BY user_id
                              ORDER BY version)) AS valid_to_us
        FROM runs GROUP BY user_id, version, event_type
    ),
    purchases AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(p.user_id AS BIGINT) AS user_id,
           CAST(p.event_id AS BIGINT) AS event_id,
           p.ts_us,
           CAST(h.version AS BIGINT) AS era_version,
           h.era_type
    FROM purchases p JOIN hist h
      ON p.user_id = h.user_id
     AND p.ts_us >= h.valid_from_us
     AND (h.valid_to_us IS NULL OR p.ts_us < h.valid_to_us)
    """,
    doc="point-in-time join: each purchase event matched to the SCD2 "
        "dimension version current AT ITS TIMESTAMP (closed-open "
        "interval), not the latest — equi-join on user_id + interval "
        "filter, one shuffle; the version-correct enrichment a "
        "warehouse needs",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (ev.withColumn("prev_type", F.lag("event_type").over(w_seq))
            .withColumn(
                "version",
                F.sum(F.when(F.col("prev_type").isNull()
                             | (F.col("prev_type") != F.col("event_type")),
                             1).otherwise(0)).over(w_seq)))
    w_ver = Window.partitionBy("user_id").orderBy("version")
    hist = (runs.groupBy("user_id", "version",
                         F.col("event_type").alias("era_type"))
            .agg(F.unix_micros(F.min("ts")).alias("valid_from_us"))
            .withColumn("valid_to_us",
                        F.lead("valid_from_us").over(w_ver)))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", "event_id",
                         F.unix_micros("ts").alias("ts_us")))
    return (purchases.alias("p")
            .join(hist.alias("h"), "user_id")
            .where((F.col("ts_us") >= F.col("valid_from_us"))
                   & (F.col("valid_to_us").isNull()
                      | (F.col("ts_us") < F.col("valid_to_us"))))
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    F.col("event_id").cast("bigint").alias("event_id"),
                    "ts_us",
                    F.col("version").cast("bigint").alias("era_version"),
                    "era_type"))
