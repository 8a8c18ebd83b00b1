"""Registered streaming queries: the Structured Streaming twins run
end-to-end (file-source stream -> watermarked operator -> availableNow
drain -> memory sink) and hash-match the SAME DuckDB oracles as their
batch counterparts — the driver's correctness gate covers the
streaming path, not just tests.

Each invocation uses a fresh memory-sink name so repeated driver runs
in one session never collide.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.queries.dedup_oracles import (
    incremental_pairs_oracle)
from iq_to_hdl_migration_spark.queries.events_queries import (
    FANO_ORACLE,
    HAAR_ORACLE,
    TYPE_MIX_DRIFT_ORACLE,
    BOT_SCORE_ORACLE, DAU_WAU_ORACLE, DIVERSITY_ORACLE, FUNNEL_ORACLE,
    GAP_HIST_ORACLE, GINI_ORACLE, LIFECYCLE_ORACLE, RETENTION_ORACLE)
from iq_to_hdl_migration_spark.queries.cooccurrence_queries import (
    AB_TEST_ORACLE, MARKET_BASKET_ORACLE)
from iq_to_hdl_migration_spark.queries.mlprep_queries import _MIX_DUCK_CTES
from iq_to_hdl_migration_spark.streaming import windows as W

_seq = itertools.count()


@register(
    "stream_hourly_counts",
    oracle="""
    SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                AS BIGINT) AS hour_us,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    doc="streaming twin of events_hourly_by_type driven end-to-end "
        "(watermarked tumbling window, availableNow drain) and checked "
        "against the same batch oracle",
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_hourly_{next(_seq)}"
    df = W.streaming_hourly_counts(spark, sf_dir, name)
    # epoch micros, not a raw LTZ timestamp: collect() renders
    # TIMESTAMP in the client OS timezone (round-5 TZ sweep finding)
    return df.select(F.unix_micros("hour_ts").alias("hour_us"),
                     "event_type", "n_events")


@register(
    "stream_exact_dedup",
    oracle="""
    SELECT event_id,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
           CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(value AS DOUBLE) AS value, props
    FROM events
    """,
    doc="streaming exact dedup (dropDuplicatesWithinWatermark) drained "
        "end-to-end; event_ids are unique in the source, so the oracle "
        "is the full table — the check proves the stream loses nothing "
        "and duplicates nothing",
)
def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_dedup_{next(_seq)}"
    df = W.streaming_dedup_count(spark, sf_dir, name)
    return df.select("event_id", F.unix_micros("ts").alias("ts_us"),
                     F.col("user_id").cast("bigint").alias("user_id"),
                     "event_type",
                     F.col("value").cast("double").alias("value"),
                     "props")


@register(
    "stream_sessionization",
    oracle=f"""
    WITH o AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(SUM(CASE WHEN prev_us IS NULL
                              OR us - prev_us > {30 * 60 * 1_000_000}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM o GROUP BY user_id
    """,
    doc="stateful streaming sessionization (applyInPandasWithState, "
        "30-min gap) drained end-to-end and checked against the batch "
        "lag-window oracle — the Pandas-stateful-UDF path inside the "
        "driver's correctness gate",
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_sessions_{next(_seq)}"
    df = W.streaming_sessionization(spark, sf_dir, name)
    return df.select(F.col("user_id").cast("bigint").alias("user_id"),
                     F.col("n_sessions").cast("bigint").alias("n_sessions"),
                     F.col("n_events").cast("bigint").alias("n_events"))


@register(
    "stream_purchase_click_join",
    oracle="""
    SELECT CAST(p.user_id AS BIGINT) AS user_id,
           CAST(p.event_id AS BIGINT) AS event_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
           CAST(epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS click_ts_us
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
    """,
    doc="stream-stream interval join (purchase x same-user clicks in "
        "the preceding hour) drained end-to-end; both sides carry "
        "watermarks so join state is evicted, and the oracle is the "
        "identical batch interval-join predicate",
)
def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_ssjoin_{next(_seq)}"
    df = W.streaming_purchase_click_join(spark, sf_dir, name)
    return df.select(F.col("user_id").cast("bigint").alias("user_id"),
                     F.col("event_id").cast("bigint").alias("event_id"),
                     F.col("click_id").cast("bigint").alias("click_id"),
                     F.unix_micros("ts").alias("ts_us"),
                     F.unix_micros("click_ts").alias("click_ts_us"))


@register(
    "stream_enriched_counts",
    oracle="""
    WITH dim AS (
        SELECT user_id, arg_min(event_type, ts) AS segment
        FROM events GROUP BY user_id
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events JOIN dim USING (user_id)
    GROUP BY segment
    """,
    doc="stream-static enrichment join drained end-to-end: each "
        "micro-batch broadcast-joins a static per-user segment "
        "dimension (user's first event type), rolled up per segment "
        "with exact decimal sums; the oracle is the identical batch "
        "join",
)
def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_enrich_{next(_seq)}"
    df = W.streaming_enriched_counts(spark, sf_dir, name)
    return df.select("segment",
                     F.col("n_events").cast("bigint").alias("n_events"),
                     F.col("total_value").cast("double")
                         .alias("total_value"))


@register(
    "stream_session_windows_native",
    # same gaps-and-islands oracle as events_session_windows_native:
    # the stream must produce bit-identical sessions to the batch
    # operator (boundary rule: events exactly gap-apart merge, window
    # end is last event + gap)
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    flagged AS (
        SELECT user_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                      OR us - lag(us) OVER w > {30 * 60 * 1_000_000}
                    THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(MAX(us) + {30 * 60 * 1_000_000} AS BIGINT)
               AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="streaming twin of events_session_windows_native: the NATIVE "
        "session_window operator run as a watermarked continuous query "
        "(availableNow drain) and hash-checked against the batch "
        "gaps-and-islands oracle — proves the merging-session state "
        "operator emits identical sessions in both execution modes",
)
def stream_session_windows_native(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    name = f"q_stream_sessw_{next(_seq)}"
    return W.streaming_session_windows(spark, sf_dir, name)


@register(
    "stream_mix_downsample",
    oracle=f"""
    WITH {_MIX_DUCK_CTES},
    r AS (
        SELECT s.source,
               CAST(FLOOR((CAST(t.budget AS DOUBLE) * CAST(s.sq AS DOUBLE))
                          / CAST(t.tot_sq AS DOUBLE)) AS DOUBLE)
                   / CAST(s.n_tokens AS DOUBLE) AS epochs
        FROM s, t
    ),
    thr AS (
        SELECT source,
               CASE WHEN epochs >= 1.0 THEN 65536
                    ELSE CAST(FLOOR(epochs * 65536.0) AS BIGINT)
               END AS thr16
        FROM r
    )
    SELECT tok.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(tok.nt) AS BIGINT) AS n_tokens_kept
    FROM tok JOIN thr ON tok.source = thr.source
    WHERE CAST('0x' || substr(md5(CAST(tok.doc_id AS VARCHAR)), 1, 4)
               AS BIGINT) < thr.thr16
    GROUP BY tok.source
    """,
    doc="streaming twin of mix_apply_downsample's keep-side: documents "
        "stream -> stream-static broadcast of the mixture thresholds -> "
        "content-addressed keep filter -> running per-source kept "
        "counts; the md5 rule makes the streaming pass admit exactly "
        "the batch sample, checked by the same oracle",
)
def stream_mix_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.sources.tables import load_table

    name = f"q_stream_mix_{next(_seq)}"
    docs = load_table(spark, sf_dir, "documents")
    c = (docs.select(
            "source",
            F.size(F.expr(r"split(lower(trim(text)), '\\s+')"))
            .cast("bigint").alias("nt"))
         .groupBy("source").agg(F.sum("nt").alias("n_tokens")))
    s = c.withColumn(
        "sq",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000.0)
        .cast("bigint"))
    t = s.agg(F.sum("sq").cast("bigint").alias("tot_sq"),
              F.expr("sum(n_tokens) div 2").cast("bigint").alias("budget"))
    epochs = (F.floor(
        (F.col("budget").cast("double") * F.col("sq").cast("double"))
        / F.col("tot_sq").cast("double")).cast("double")
        / F.col("n_tokens").cast("double"))
    thr = (s.join(F.broadcast(t))
           .select("source",
                   F.when(epochs >= 1.0, F.lit(65536).cast("bigint"))
                   .otherwise(F.floor(epochs * 65536.0).cast("bigint"))
                   .alias("thr16")))
    return W.streaming_curation_counts(spark, sf_dir, thr, name)


@register(
    "stream_incremental_dedup",
    oracle=incremental_pairs_oracle(threshold=0.5),
    oracle_max_sf=0.02,  # same bucket-overflow bound as the batch twin
    doc="streaming twin of dedup_incremental_pairs: a documents "
        "ARRIVAL stream drained one file per micro-batch "
        "(maxFilesPerTrigger=1, availableNow); foreachBatch dedups "
        "each batch against the persisted LSH index via "
        "lsh_batch_deltas, emits the batch's pairs idempotently "
        "(batch_id-scoped overwrite), and appends the index deltas so "
        "the next batch sees everything so far. With monotone ids the "
        "unioned output is micro-batch-partition-invariant and equals "
        "the single-shot batch result — the SAME full-recompute oracle "
        "checks both. This is the 100 TB continuous-curation shape: "
        "state = the index, per-batch work independent of corpus size.",
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_incdedup_{next(_seq)}"
    df = W.streaming_incremental_dedup(spark, sf_dir, name)
    return df.select(F.col("id_a").cast("bigint").alias("id_a"),
                     F.col("id_b").cast("bigint").alias("id_b"),
                     F.col("est_jaccard").cast("double").alias("est_jaccard"))


@register(
    "stream_scd2_history",
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
    ),
    full_hist AS (
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(version AS BIGINT) AS version,
               event_type,
               epoch_us(valid_from) AS valid_from_us,
               epoch_us(lead(valid_from)
                        OVER (PARTITION BY user_id ORDER BY version))
                   AS valid_to_us,
               n_events
        FROM hist
    )
    SELECT * FROM full_hist WHERE valid_to_us IS NOT NULL
    """,
    doc="streaming SCD2 (applyInPandasWithState, constant per-key "
        "state: one open run) drained end-to-end; emits each history "
        "row as its run closes — checked against the batch "
        "gaps-and-islands twin restricted to closed rows, which is "
        "exactly what an append-mode CDC history log contains",
)
def stream_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_scd2_{next(_seq)}"
    df = W.streaming_scd2(spark, sf_dir, name)
    return df.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("version").cast("bigint").alias("version"),
        "event_type",
        F.col("valid_from_us").cast("bigint").alias("valid_from_us"),
        F.col("valid_to_us").cast("bigint").alias("valid_to_us"),
        F.col("n_events").cast("bigint").alias("n_events"))


@register(
    "stream_dsir_gate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, source,
               CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)
                   % 1024 AS bucket
        FROM (SELECT doc_id, lang, source,
                     unnest(string_split_regex(lower(trim(text)),
                                               '\\s+')) AS token
              FROM documents)
    ),
    src AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS src_c
            FROM tok GROUP BY bucket),
    tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tgt_c
            FROM tok WHERE lang = 'en' GROUP BY bucket),
    db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY doc_id, bucket),
    scored AS (
        SELECT db.doc_id,
               CAST(SUM(db.c * (COALESCE(tgt.tgt_c, 0) + 1))
                    AS BIGINT) AS numer,
               CAST(SUM(db.c * (src.src_c + 1)) AS BIGINT) AS denom
        FROM db JOIN src ON src.bucket = db.bucket
                LEFT JOIN tgt ON tgt.bucket = db.bucket
        GROUP BY db.doc_id
    ),
    kppm AS (
        SELECT CAST(1000000 * (SELECT COUNT(*) FROM tok
                               WHERE lang = 'en')
                    // (SELECT COUNT(*) FROM tok) AS BIGINT) AS k
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(len(string_split_regex(lower(trim(d.text)),
                                           '\\s+'))) AS BIGINT)
               AS n_tokens_kept
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id, kppm
    WHERE CAST(s.numer AS HUGEINT) * 1000000
          >= CAST(s.denom AS HUGEINT) * kppm.k
    GROUP BY d.source
    """,
    doc="streaming DSIR quality gate: the hashed-unigram bucket "
        "tables of text_dsir_importance_weights are precomputed from "
        "the base corpus (1024 integers — the index an offline job "
        "ships to ingest), baked into the stream as literal arrays, "
        "and every arriving document is admitted by the stateless "
        "integer cross-multiplication numer * 1e6 >= denom * keep_ppm "
        "(keep_ppm = corpus-average target ratio, DECIMAL(38,0)-safe); "
        "running per-source kept counts over the bounded source key "
        "set — the streaming pass admits exactly the batch-scored "
        "set, checked by the shared oracle",
)
def stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.queries.corpus_queries import (
        _DSIR_BUCKETS, _DSIR_HV_SPARK, _TOKS_SPARK)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    name = f"q_stream_dsir_{next(_seq)}"
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.expr(_TOKS_SPARK)).alias("token")).select(
        "lang", F.expr(_DSIR_HV_SPARK).alias("bucket"))
    # bounded bucket tables (<= 1024 rows at ANY corpus size): collect
    # to plain lists, the "persisted index" the stream gates against
    src_rows = (tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
                .collect())
    tgt_rows = (tok.where(F.col("lang") == "en").groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("c")).collect())
    src_arr = [0] * _DSIR_BUCKETS
    tgt_arr = [0] * _DSIR_BUCKETS
    for r in src_rows:
        src_arr[int(r["bucket"])] = int(r["c"])
    for r in tgt_rows:
        tgt_arr[int(r["bucket"])] = int(r["c"])
    keep_ppm = 1_000_000 * sum(tgt_arr) // sum(src_arr)
    return W.streaming_dsir_gate(spark, sf_dir, tgt_arr, src_arr,
                                 _DSIR_BUCKETS, keep_ppm, name)


def _bottomk_oracle() -> str:
    from iq_to_hdl_migration_spark.queries.mlprep_queries import _BK_K
    return f"""
    SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS hv
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY lang
        ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT), doc_id) <= {_BK_K}
    """


@register(
    "stream_bottomk_sample",
    oracle=_bottomk_oracle(),
    doc="streaming twin of sample_bottomk_per_lang: the corpus arrives "
        "as id-contiguous micro-batches and each batch folds into an "
        "on-disk per-lang bottom-k-by-hash snapshot (merge = bottom-k "
        "of snapshot ∪ batch — the mergeability the batch sampler "
        "advertises, exercised with real micro-batch state); state is "
        "k rows per lang forever, replay recomputes from the prior "
        "snapshot so re-execution is byte-identical; the final "
        "snapshot equals the single-shot batch sample (shared oracle)",
)
def stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.queries.mlprep_queries import _BK_K

    name = f"q_stream_bottomk_{next(_seq)}"
    return W.streaming_bottomk_sample(spark, sf_dir, _BK_K, name)


@register(
    "stream_market_basket",
    oracle=MARKET_BASKET_ORACLE,   # shared with orders_market_basket_lift
    doc="streaming twin of orders_market_basket_lift: lineitem arrives "
        "as orderkey-contiguous micro-batches (a basket is an atomic "
        "order event) and each batch's pair/item/total supports fold "
        "ADDITIVELY into a unified snapshot (merge = sum per key — "
        "supports over disjoint order sets are additive, the "
        "mergeability the batch one-pass design advertises); replay "
        "recomputes from the prior snapshot; the final lift report "
        "equals the single-shot batch result (shared oracle)",
)
def stream_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_basket_{next(_seq)}"
    return W.streaming_market_basket(spark, sf_dir, name)


@register(
    "stream_ab_test",
    oracle=AB_TEST_ORACLE,   # shared with events_ab_test_report
    doc="streaming twin of events_ab_test_report: events arrive as "
        "event_id-contiguous micro-batches (a user's events span "
        "batches) and each batch folds into a per-user conversion "
        "snapshot (merge = max(is_conv) per user — the idempotent "
        "OR-monoid an exact streaming distinct-user metric needs; "
        "variant assignment is a stateless md5 hash, so state is ONE "
        "row per user, the provable minimum); replay recomputes from "
        "the prior snapshot; the final z-report equals the single-"
        "shot batch result bit-for-bit (shared oracle)",
)
def stream_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_ab_{next(_seq)}"
    return W.streaming_ab_test(spark, sf_dir, name)


def _bp_gate_oracle() -> str:
    from iq_to_hdl_migration_spark.queries.corpus_queries import (
        _BP_MIN_DOCS, _BP_N, _TOKS_DUCK)
    return f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_DUCK} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source, CAST(len(t) AS BIGINT) AS nt,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {_BP_N} + 1, 0) + 1),
                   i -> list_aggregate(
                            t[CAST(i AS INTEGER):
                              CAST(i + {_BP_N} - 1 AS INTEGER)],
                            'string_agg', ' '))) AS gs
        FROM toks
    ),
    g AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    boiler AS (
        SELECT g FROM g GROUP BY g
        HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
    ),
    hits AS (
        SELECT q.doc_id, CAST(COUNT(*) AS BIGINT) AS nb
        FROM g q JOIN boiler USING (g) GROUP BY q.doc_id
    ),
    per AS (
        SELECT gr.doc_id, gr.source, gr.nt,
               CAST(len(gr.gs) AS BIGINT) AS n_sh,
               COALESCE(h.nb, 0) AS nb
        FROM grams gr LEFT JOIN hits h ON h.doc_id = gr.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(nt) AS BIGINT) AS n_tokens_kept
    FROM per WHERE nb * 100 <= n_sh * 50
    GROUP BY source
    """


@register(
    "stream_boilerplate_gate",
    oracle=_bp_gate_oracle(),
    doc="streaming boilerplate gate: documents arrive as doc_id-"
        "contiguous micro-batches and each is admitted iff its "
        "boilerplate-shingle fraction is <= 50% against a FROZEN "
        "boilerplate index (8-gram shingles in >= 5 base docs — "
        "vocabulary-sized, so it stays a shingle-keyed DataFrame "
        "join, never a baked literal); per-source kept doc/token "
        "counts fold additively across batches; the final report "
        "equals the single-shot batch computation (shared oracle); "
        "integer cross-multiplication keep rule, no floats in the "
        "gate",
)
def stream_boilerplate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.queries.corpus_queries import (
        _BP_MIN_DOCS, _BP_N, _TOKS_SPARK)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    name = f"q_stream_bp_{next(_seq)}"
    docs = load_table(spark, sf_dir, "documents")
    gs = (f"CASE WHEN size(t) >= {_BP_N} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {_BP_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_BP_N})))) "
          f"ELSE array() END")
    boiler = (docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
              .withColumn("gs", F.expr(gs))
              .select("doc_id", F.explode_outer("gs").alias("g"))
              .where(F.col("g").isNotNull())
              .groupBy("g")
              .agg(F.countDistinct("doc_id").alias("c"))
              .where(F.col("c") >= _BP_MIN_DOCS)
              .select("g").localCheckpoint())
    return W.streaming_boilerplate_gate(spark, sf_dir, boiler, _BP_N,
                                        50, name)


@register(
    "stream_user_gini",
    oracle=GINI_ORACLE,   # shared with events_poweruser_gini
    doc="streaming twin of events_poweruser_gini: events arrive as "
        "event_id-contiguous micro-batches (a user's events span "
        "batches) and each batch folds per-user event counts into a "
        "snapshot (merge = sum per user — the additive count monoid; "
        "state is one row per distinct user, the exact-metric "
        "minimum); the final snapshot feeds the same closed-form "
        "histogram Gini tail as the batch query, so the report equals "
        "the single-shot batch result bit-for-bit (shared oracle)",
)
def stream_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_gini_{next(_seq)}"
    return W.streaming_user_activity_gini(spark, sf_dir, name)


@register(
    "stream_retention_cohorts",
    oracle=RETENTION_ORACLE,  # shared with events_retention_cohorts
    doc="streaming twin of events_retention_cohorts (16th twin): "
        "events arrive as event_id-contiguous micro-batches and each "
        "batch folds per-user (MIN signup-cohort week, OR active-week "
        "bitmask) — both true monoids, so state is one BIGINT mask + "
        "one INT per user and any arrival split converges; corpora "
        "past 63 weeks raise loudly (documented mask bound). The "
        "final snapshot feeds the same cohort tail as the batch "
        "query, so the matrix equals the single-shot result "
        "bit-for-bit (shared oracle)",
)
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_retention_{next(_seq)}"
    return W.streaming_retention_cohorts(spark, sf_dir, name)


@register(
    "stream_lifecycle_stages",
    oracle=LIFECYCLE_ORACLE,  # shared with events_lifecycle_stages
    doc="streaming twin of events_lifecycle_stages (17th twin): the "
        "SAME per-user MIN/OR fold as stream_retention_cohorts — one "
        "BIGINT week bitmask per user carries both cohort retention "
        "and growth accounting exactly — with the final snapshot's "
        "masks exploded into the distinct user-week frame and fed "
        "through the shared batch tail; equals the single-shot "
        "lifecycle report bit-for-bit (shared oracle)",
)
def stream_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_lifecycle_{next(_seq)}"
    return W.streaming_lifecycle_stages(spark, sf_dir, name)


@register(
    "stream_bot_score",
    oracle=BOT_SCORE_ORACLE,  # shared with events_bot_score_report
    doc="streaming twin of events_bot_score_report (18th twin) — and "
        "the first SEAM-CARRYING fold: per-user cadence counts are "
        "not a commutative monoid (a gap can span two micro-batches), "
        "so each batch closes the boundary gap against the carried "
        "last-event micros; the fold asserts time-contiguity in-plan "
        "and refuses out-of-order arrivals loudly. Final snapshot "
        "feeds the shared report tail — equals the single-shot batch "
        "report bit-for-bit (shared oracle)",
)
def stream_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_bot_{next(_seq)}"
    return W.streaming_bot_score(spark, sf_dir, name)


@register(
    "stream_type_diversity",
    oracle=DIVERSITY_ORACLE,  # shared with events_user_type_diversity
    doc="streaming twin of events_user_type_diversity (19th twin): "
        "events arrive as event_id-contiguous micro-batches and each "
        "batch folds per-(user, type) counts — the additive count "
        "monoid keyed on the composite key, state one BIGINT per "
        "(user, type) pair bounded by the fixed type vocabulary; the "
        "final snapshot feeds the same integer-exact Simpson-"
        "concentration tail as the batch query, so the banded census "
        "equals the single-shot result bit-for-bit (shared oracle)",
)
def stream_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_diversity_{next(_seq)}"
    return W.streaming_type_diversity(spark, sf_dir, name)


@register(
    "stream_gap_histogram",
    oracle=GAP_HIST_ORACLE,  # shared with events_gap_powerlaw_histogram
    doc="streaming twin of events_gap_powerlaw_histogram (20th twin, "
        "second SEAM-CARRYING fold): inter-event gaps per (user, type) "
        "span micro-batches, so each batch closes the boundary gap "
        "against the carried last-event micros (the bot fold's seam "
        "discipline) while the state is a bounded power-of-two gap "
        "HISTOGRAM per key, not scalar counters; time-contiguity is "
        "asserted in-plan and violations refuse loudly. The final "
        "snapshot collapses onto (event_type, bucket) — equal to the "
        "single-shot batch histogram bit-for-bit (shared oracle)",
)
def stream_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_gap_hist_{next(_seq)}"
    return W.streaming_gap_histogram(spark, sf_dir, name)


@register(
    "stream_funnel_counts",
    oracle=FUNNEL_ORACLE,  # shared with events_funnel_counts
    doc="streaming twin of events_funnel_counts (21st twin, third "
        "ORDERED fold): the chained funnel is not a commutative monoid "
        "— each stage's qualifying time depends on the previous stage "
        "— but under the id-contiguous time-ordered arrival contract a "
        "stage time is FINAL once set, so state is three timestamps + "
        "the seam last_us per user; within a batch the three stages "
        "chain exactly like the batch query. Contiguity violations "
        "refuse loudly in-plan. Equal to the single-shot batch report "
        "bit-for-bit (shared oracle)",
)
def stream_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_funnel_{next(_seq)}"
    return W.streaming_funnel_counts(spark, sf_dir, name)


@register(
    "stream_dau_wau",
    oracle=DAU_WAU_ORACLE,  # shared with events_dau_wau
    doc="streaming twin of events_dau_wau (22nd twin): rides the "
        "generalized composite-key count fold on (user, day) — the "
        "additive count monoid whose snapshot carries the DISTINCT "
        "presence DAU/WAU need for free; state is one row per active "
        "(user, day) pair, the same frame the batch query shuffles "
        "once. Equal to the single-shot report bit-for-bit (shared "
        "oracle)",
)
def stream_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_dauwau_{next(_seq)}"
    return W.streaming_dau_wau(spark, sf_dir, name)


@register(
    "stream_type_mix_drift",
    # shared with events_type_mix_drift_tvd
    oracle=TYPE_MIX_DRIFT_ORACLE,
    doc="streaming twin of events_type_mix_drift_tvd (23rd twin): "
        "rides the generalized composite-key count fold on "
        "(week, event_type) — the weekly type-count matrix is the "
        "additive count monoid with the cheapest state of any twin "
        "(bounded by weeks x the fixed type vocabulary); the final "
        "snapshot feeds the same exact-integer TVD tail, so the drift "
        "report equals the single-shot result bit-for-bit (shared "
        "oracle)",
)
def stream_type_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_mix_drift_{next(_seq)}"
    return W.streaming_type_mix_drift(spark, sf_dir, name)


@register(
    "stream_haar_energy",
    # shared with events_haar_energy_profile
    oracle=HAAR_ORACLE,
    doc="streaming twin of events_haar_energy_profile (24th twin): "
        "rides the generalized composite-key count fold on "
        "(event_type, epoch-hour) — the hourly count spine is the "
        "additive count monoid (bounded by hours x the type "
        "vocabulary), and the final snapshot feeds the same exact-"
        "integer Haar tail, so the 6-scale energy spectrum equals the "
        "single-shot result bit-for-bit (shared oracle)",
)
def stream_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_haar_{next(_seq)}"
    return W.streaming_haar_energy(spark, sf_dir, name)


@register(
    "stream_fano_factor",
    # shared with events_fano_factor_hourly
    oracle=FANO_ORACLE,
    doc="streaming twin of events_fano_factor_hourly (25th twin): "
        "rides the generalized composite-key count fold on "
        "(event_type, epoch-hour) — the same additive count monoid "
        "the Haar twin folds — and feeds the final snapshot into the "
        "shared exact-integer Fano tail (spine bounds derived from "
        "the counts themselves), so the burstiness report equals the "
        "single-shot result bit-for-bit (shared oracle)",
)
def stream_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"q_stream_fano_{next(_seq)}"
    return W.streaming_fano_factor(spark, sf_dir, name)
