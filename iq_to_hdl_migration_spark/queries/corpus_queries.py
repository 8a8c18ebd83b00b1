"""Corpus-level hygiene operators for LLM training data (SURVEY
§2.11): vocabulary statistics, benchmark-decontamination scanning, and
burst/bot detection — plus the basket-size distribution on the
relational side.

Scale notes:
- `text_vocab_stats` explodes tokens once and aggregates per source:
  total tokens (map-side partial count) and distinct tokens (one
  shuffle on the (source, token) pair, then count per source). At
  100 TB the (source, token) key is high-cardinality and uniform —
  exactly what a shuffle wants; nothing collects a vocabulary to the
  driver.
- `text_contamination_scan` holds the probe set as a literal array
  (the real deployment broadcasts a small probe table); the scan is a
  single pass with `exists()` over the probes per document — no join,
  no regex catastrophes, pushdown-friendly.
- `events_burst_users` aggregates to (user, minute) first — bounded by
  time-grain, immune to per-event skew — then takes a per-user max.
- Determinism: counts/ratios are exact integers with one final double
  division.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.operators.dimjoin import scaled_dim
from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.queries import dedup_oracles as _dedup_oracles
from iq_to_hdl_migration_spark.session import local_frame
from iq_to_hdl_migration_spark.sources.tables import load_table

_TOKS_SPARK = r"split(lower(trim(text)), '\\s+')"
_TOKS_DUCK = r"string_split_regex(lower(trim(text)), '\s+')"

# benchmark-probe strings for the decontamination scan (stand-ins for
# eval-set shingles; the real pipeline loads these from a probe table)
_PROBES = ["sort merge", "hash join", "window frame", "broadcast nested"]
_PROBES_SPARK = "array(" + ", ".join(f"'{p}'" for p in _PROBES) + ")"
_PROBES_DUCK = "[" + ", ".join(f"'{p}'" for p in _PROBES) + "]"


@register(
    "text_vocab_stats",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_DUCK}) AS token FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS distinct_tokens,
           CAST(COUNT(DISTINCT token) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS type_token_ratio
    FROM tok GROUP BY source
    """,
    doc="Per-source vocabulary statistics (total/distinct tokens, "
        "type-token ratio) — distributed distinct on the (source, "
        "token) shuffle key, no driver-side vocabulary. SURVEY §2.11 "
        "text analysis.",
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.expr(_TOKS_SPARK)).alias("token"))
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_tokens"),
        F.countDistinct("token").cast("bigint").alias("distinct_tokens"),
        (F.countDistinct("token").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("type_token_ratio"),
    )


@register(
    "text_contamination_scan",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN len(list_filter({_PROBES_DUCK},
                        p -> contains(lower(text), p))) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(len(list_filter({_PROBES_DUCK},
                        p -> contains(lower(text), p)))) AS BIGINT)
               AS n_probe_hits
    FROM documents GROUP BY source
    """,
    doc="Benchmark-decontamination scan: per source, documents "
        "containing any probe string and total probe hits. Probe set "
        "is a broadcast-style literal array checked with contains() in "
        "one pass — no join, no regex. SURVEY §2.11 text analysis.",
)
def text_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hits = F.expr(
        f"size(filter({_PROBES_SPARK}, p -> contains(lower(text), p)))")
    d = docs.select("source", hits.alias("hits"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0)).cast("bigint")
            .alias("n_contaminated"),
        F.sum("hits").cast("bigint").alias("n_probe_hits"),
    )


@register(
    "events_burst_users",
    oracle="""
    WITH pm AS (
        SELECT user_id, date_trunc('minute', ts) AS minute,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), mx AS (
        SELECT user_id, MAX(n) AS peak_per_minute FROM pm GROUP BY user_id
    )
    SELECT CAST(peak_per_minute AS BIGINT) AS peak_per_minute,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM mx GROUP BY peak_per_minute
    """,
    doc="Burst/bot detection histogram: per-user peak events-per-minute "
        "(grain-first aggregation bounds state by time grain, not "
        "event volume). SURVEY §2.11 data quality.",
)
def events_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pm = (ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("minute"))
          .agg(F.count(F.lit(1)).alias("n")))
    mx = pm.groupBy("user_id").agg(F.max("n").alias("peak_per_minute"))
    return (mx.groupBy("peak_per_minute")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
            .select(F.col("peak_per_minute").cast("bigint")
                    .alias("peak_per_minute"), "n_users"))


@register(
    "orders_basket_size_distribution",
    oracle="""
    WITH b AS (
        SELECT l_orderkey, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                    AS DECIMAL(18,2)) AS total_qty
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(total_qty) AS DOUBLE) AS sum_qty,
           CAST(SUM(total_qty) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avg_qty_per_order
    FROM b GROUP BY n_lines
    """,
    doc="Basket-size distribution: lines-per-order histogram with "
        "exact-decimal quantity rollup; two shuffles on shrinking keys "
        "(orderkey -> n_lines). SURVEY §2.11.",
)
def orders_basket_size_distribution(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = (li.groupBy("l_orderkey")
         .agg(F.count(F.lit(1)).alias("n_lines"),
              F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                  .cast("decimal(18,2)").alias("total_qty")))
    return (b.groupBy("n_lines")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("total_qty").cast("double").alias("sum_qty"),
                 (F.sum("total_qty").cast("double")
                  / F.count(F.lit(1)).cast("double"))
                     .alias("avg_qty_per_order"))
            .select(F.col("n_lines").cast("bigint").alias("n_lines"),
                    "n_orders", "sum_qty", "avg_qty_per_order"))


@register(
    "text_df_histogram",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest({_TOKS_DUCK}) AS token
        FROM documents
    ), df AS (
        SELECT token, COUNT(*) AS doc_freq FROM tok GROUP BY token
    )
    SELECT CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM df GROUP BY doc_freq
    """,
    doc="Document-frequency histogram (inverted-index posting-list "
        "sizing evidence): distinct (doc, token) -> per-token doc "
        "frequency -> histogram. Three shuffles on shrinking keys; "
        "the heavy one is the uniform (doc_id, token) distinct. "
        "SURVEY §2.11 text analysis.",
)
def text_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("token"))
           .distinct())
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (df.groupBy("doc_freq")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
            .select(F.col("doc_freq").cast("bigint").alias("doc_freq"),
                    "n_tokens"))


@register(
    "lineitem_discount_curve",
    oracle="""
    SELECT CAST(ROUND(CAST(l_discount AS DECIMAL(4,2)) * 100)
                AS INTEGER) AS discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem GROUP BY 1
    """,
    doc="Discount-effectiveness curve: per discount level, line count, "
        "average quantity (does discounting move volume?) and realized "
        "revenue — single scan, constant-size group key. SURVEY §2.11.",
)
def lineitem_discount_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - disc)
    return (li.groupBy(F.round(disc * 100).cast("int").alias("discount_pct"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                 (F.sum(qty).cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("avg_qty"),
                 F.sum(rev).cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Benchmark decontamination by 13-token-gram containment (the GPT-3/
# PaLM-style eval-overlap scan, beyond-reference LLM-pipeline surface).
# Unlike `text_contamination_scan` (literal probe strings), this joins
# the TRAIN corpus against an EVAL split's n-gram set — the real shape:
# at 100 TB the eval side is tiny (a benchmark suite), so it broadcasts,
# and the only shuffle is the per-doc hit aggregate.
# ---------------------------------------------------------------------------

_CONTAM_N = 13
_EVAL_SPLIT = "doc_id % 10 = 3"  # stand-in eval set; production joins a
                                 # real benchmark table


@register(
    "text_contamination_13gram",
    bench=True,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, ({_EVAL_SPLIT}) AS is_eval,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_eval,
               list_transform(
                   range(1, greatest(len(t) - {_CONTAM_N} + 1, 0) + 1),
                   i -> list_aggregate(
                            t[CAST(i AS INTEGER):
                              CAST(i + {_CONTAM_N} - 1 AS INTEGER)],
                            'string_agg', ' ')) AS gs
        FROM toks
    ),
    g AS (SELECT doc_id, is_eval, unnest(gs) AS g FROM grams),
    eval_grams AS (SELECT DISTINCT g FROM g WHERE is_eval),
    train AS (SELECT DISTINCT doc_id, g FROM g WHERE NOT is_eval),
    totals AS (
        SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id
    ),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_hit_grams
        FROM train t JOIN eval_grams e USING (g)
        GROUP BY t.doc_id
    )
    SELECT CAST(h.doc_id AS BIGINT) AS doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(h.n_hit_grams AS BIGINT) AS n_hit_grams,
           CAST(h.n_hit_grams AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
               AS contamination_ratio
    FROM hits h JOIN totals t ON t.doc_id = h.doc_id
    """,
    doc="benchmark decontamination: train docs sharing any 13-token "
        "gram with the eval split, with per-doc contaminated-gram "
        "counts — eval n-gram set broadcast (tiny vs corpus), one "
        "shuffle on doc_id for the hit aggregate",
)
def text_contamination_13gram(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], so short docs
    # need an explicit empty-array branch (DuckDB's range(1, 1) is
    # already empty)
    gs = (f"CASE WHEN size(t) >= {_CONTAM_N} THEN "
          f"transform(sequence(1, size(t) - {_CONTAM_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_CONTAM_N}))) "
          f"ELSE array() END")
    # hash-repartition BY doc_id (round 14, guide §2.4, same move as
    # text_winnowing_fingerprints): explode is narrow, so the train
    # distinct on (doc_id, g) and the totals groupBy(doc_id) are both
    # satisfied by the up-front partitioning and plan without their
    # own exchanges; only the small eval-gram distinct and the hit
    # join shuffle by g
    toks = (docs.select("doc_id",
                        F.expr(_EVAL_SPLIT).alias("is_eval"),
                        F.expr(_TOKS_SPARK).alias("t"))
            .repartition(n, "doc_id"))
    # explode_outer + null filter, NOT explode: the inferred
    # size(gs) > 0 generator filter would re-evaluate the gram
    # transform per row below the barrier (see text_winnowing_
    # fingerprints for the measured version of this trap)
    g = (toks.withColumn("gs", F.expr(gs))
         .select("doc_id", "is_eval",
                 F.explode_outer("gs").alias("g"))
         .where(F.col("g").isNotNull()))
    eval_grams = g.where("is_eval").select("g").distinct()
    train = g.where(~F.col("is_eval")).select("doc_id", "g").distinct()
    totals = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"))
    hits = (train.join(scaled_dim(eval_grams), "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit_grams")))
    return (hits.join(totals, "doc_id")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("n_grams").cast("bigint").alias("n_grams"),
                    F.col("n_hit_grams").cast("bigint")
                    .alias("n_hit_grams"),
                    (F.col("n_hit_grams").cast("double")
                     / F.col("n_grams").cast("double"))
                    .alias("contamination_ratio")))


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (Robertson/Sparck Jones; the lexical-retrieval
# baseline every RAG pipeline ships next to its embedding ANN).
# Cross-engine determinism notes (same discipline as text_tfidf_topk):
#  * idf uses the rational BM25 form (N - df + 0.5)/(df + 0.5) WITHOUT
#    the log — IEEE add/mult/div are exactly rounded so both engines
#    produce identical doubles, and the per-term ranking is unchanged
#    (log is monotone); document it as BM25-rational.
#  * avgdl is folded in as dl * N / total_tokens (exact integers until
#    one double division) — never AVG(double), whose summation order
#    differs across engines.
#  * the cross-term SUM is over DECIMAL(18,9) — decimal addition is
#    exact and order-independent, so the hash is stable under any
#    partitioning.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["join", "hash", "vector"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@register(
    "text_bm25_topk",
    bench=True,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    scored AS (
        SELECT tf.doc_id,
               CAST(((CAST(stats.n_docs - df.df AS DOUBLE) + 0.5)
                     / (CAST(df.df AS DOUBLE) + 0.5))
                    * ((CAST(tf.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                       / (CAST(tf.tf AS DOUBLE)
                          + {_BM25_K1} * ({1.0 - _BM25_B}
                             + {_BM25_B} * (CAST(dl.dl AS DOUBLE)
                                * CAST(stats.n_docs AS DOUBLE)
                                / CAST(stats.total_tokens AS DOUBLE)))))
                    AS DECIMAL(18,9)) AS term_score
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN df ON df.token = tf.token
        CROSS JOIN stats
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(SUM(term_score) AS DOUBLE) AS bm25_score
    FROM scored GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
    doc="BM25-rational top-k lexical retrieval over the corpus for a "
        "fixed query term set: tf/df/dl from one tokenize pass, global "
        "stats as a 1-row broadcast, per-term scores summed as exact "
        "decimals; at scale the only shuffles are the tf aggregate and "
        "the final top-k",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_tokens"))
    tf = (toks.select("doc_id", F.explode("t").alias("token"))
          .where(F.col("token").isin(*_BM25_TERMS))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    scored = (tf.join(dl, "doc_id")
              .join(F.broadcast(df_), "token")
              .join(F.broadcast(stats))
              .withColumn(
                  "term_score",
                  F.expr(f"""
                      CAST(((CAST(n_docs - df AS DOUBLE) + 0.5)
                            / (CAST(df AS DOUBLE) + 0.5))
                           * ((CAST(tf AS DOUBLE) * {k1 + 1.0})
                              / (CAST(tf AS DOUBLE)
                                 + {k1} * ({1.0 - b}
                                    + {b} * (CAST(dl AS DOUBLE)
                                       * CAST(n_docs AS DOUBLE)
                                       / CAST(total_tokens AS DOUBLE)))))
                           AS DECIMAL(18,9))""")))
    return (scored.groupBy("doc_id")
            .agg(F.sum("term_score").alias("dec_score"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("dec_score").cast("double").alias("bm25_score"))
            .orderBy(F.col("bm25_score").desc(), "doc_id")
            .limit(_BM25_TOPK))


@register(
    "corpus_bigram_diversity",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id, {_TOKS_DUCK} AS t FROM documents
    ),
    bg AS (
        SELECT source,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[CAST(i AS INTEGER)] || ' ' ||
                        t[CAST(i + 1 AS INTEGER)]) AS gs
        FROM toks
    ),
    g AS (SELECT source, unnest(gs) AS g FROM bg)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_bigrams,
           CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS diversity
    FROM g GROUP BY source
    """,
    doc="per-source bigram diversity (distinct/total bigram ratio) — "
        "the training-mix repetitiveness signal next to "
        "corpus_token_budget; one tokenize pass, one aggregate "
        "shuffle on (source, bigram)",
)
def corpus_bigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    # same generator-trap discipline as text_contamination_13gram:
    # guarded transform (sequence(1, 0) descends) + explode_outer
    gs = ("CASE WHEN size(t) >= 2 THEN "
          "transform(sequence(1, size(t) - 1), "
          "i -> concat(t[i - 1], ' ', t[i])) "
          "ELSE array() END")
    g = (docs.select("source", F.expr(_TOKS_SPARK).alias("t"))
         .repartition(n)
         .withColumn("gs", F.expr(gs))
         .select("source", F.explode_outer("gs").alias("g"))
         .where(F.col("g").isNotNull()))
    return (g.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.count_distinct("g").alias("n_distinct_bigrams"))
            .select("source",
                    F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                    F.col("n_distinct_bigrams").cast("bigint")
                    .alias("n_distinct_bigrams"),
                    (F.col("n_distinct_bigrams").cast("double")
                     / F.col("n_bigrams").cast("double"))
                    .alias("diversity")))


# ---------------------------------------------------------------------------
# near-duplicate benchmark decontamination: the n-gram scans above catch
# verbatim probe strings; this catches whole-document near-copies of
# held-out data inside the train split — the leakage mode that inflates
# eval scores without any verbatim overlap. Pairs come from the SAME
# flood-safe MinHash+LSH pipeline as dedup_minhash_lsh_pairs (exact
# pre-pass -> banded buckets -> capped in-bucket pairs), so this is one
# more consumer of an already-verified artifact, not a new all-pairs
# join; the split tag is the content-addressed md5 rule from
# split_train_test, so the report is reproducible across engines,
# reshards and reruns.
# ---------------------------------------------------------------------------

@register(
    "text_contamination_neardup",
    oracle=_dedup_oracles.cross_split_contamination_oracle(threshold=0.5),
    doc="per-source count of train-split docs that near-duplicate a "
        "held-out (valid/test) doc: direct LSH cross-split pairs plus a "
        "one-hop closure over certain-duplicate (est_jaccard = 1.0) "
        "train-train pairs, with the max cross-split similarity per "
        "source. SURVEY §2.11 decontamination, near-dup variant.",
)
def text_contamination_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        minhash_pairs)

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = docs.select(
        F.col("doc_id").cast("bigint").alias("id"), "source",
        F.when(bucket < "cc", "train").otherwise("held").alias("split"))
    tagged = (pairs
              .join(split.select(F.col("id").alias("id_a"),
                                 F.col("split").alias("split_a")), "id_a")
              .join(split.select(F.col("id").alias("id_b"),
                                 F.col("split").alias("split_b")), "id_b"))
    a_dir = (F.col("split_a") == "train") & (F.col("split_b") == "held")
    b_dir = (F.col("split_b") == "train") & (F.col("split_a") == "held")
    direct = (tagged.where(a_dir)
              .select(F.col("id_a").alias("id"), "est_jaccard")
              .unionByName(tagged.where(b_dir)
                           .select(F.col("id_b").alias("id"), "est_jaccard")))
    direct_ids = direct.select("id").distinct()
    certain = tagged.where((F.col("est_jaccard") == 1.0)
                           & (F.col("split_a") == "train")
                           & (F.col("split_b") == "train"))
    via = (certain.join(direct_ids.withColumnRenamed("id", "id_a"), "id_a")
           .select(F.col("id_b").alias("id"))
           .unionByName(
               certain.join(direct_ids.withColumnRenamed("id", "id_b"), "id_b")
               .select(F.col("id_a").alias("id"))))
    contaminated = (direct_ids.unionByName(via).distinct()
                    .withColumn("flag", F.lit(1)))
    dmax = direct.groupBy("id").agg(F.max("est_jaccard").alias("max_jac"))
    return (split.where(F.col("split") == "train")
            .join(contaminated, "id", "left")
            .join(dmax, "id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_train_docs"),
                 F.sum(F.when(F.col("flag").isNotNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_contaminated"),
                 F.max("max_jac").alias("max_est_jaccard")))


# ---------------------------------------------------------------------------
# first-round BPE merge candidates — tokenizer induction, step 1: count
# adjacent character pairs over all word occurrences (with an
# end-of-word marker, the standard BPE formulation) and rank the top
# merges. Exact integer counts, deterministic (count, pair) tie-break.
# One explode chain, aggregation is map-side combinable; at 100 TB the
# (pair) key space is tiny (alphabet^2) so the final shuffle is
# negligible next to the scan.
# ---------------------------------------------------------------------------

@register(
    "text_bpe_first_merges",
    oracle=r"""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) || '_'
            AS ww
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(ww)),
                                     i -> substr(ww, CAST(i AS INTEGER), 2)))
            AS pair
        FROM w WHERE length(ww) >= 2
    )
    SELECT pair, n_occurrences FROM (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS rn
        FROM pairs GROUP BY pair
    ) t WHERE rn <= 20
    """,
    doc="top-20 first-round BPE merge candidates: adjacent character "
        "pairs (end-of-word marker '_') counted over all word "
        "occurrences — tokenizer induction step 1; exact counts, "
        "deterministic tie-break",
)
def text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (docs.select(F.explode(F.expr(_TOKS_SPARK)).alias("tok"))
         .select(F.concat(F.col("tok"), F.lit("_")).alias("ww"))
         .where(F.length("ww") >= 2))
    pairs = w.select(F.explode(F.expr(
        "transform(sequence(1, length(ww) - 1),"
        " i -> substring(ww, i, 2))")).alias("pair"))
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    # top-20 via orderBy+limit -> TakeOrderedAndProject (per-partition
    # top-k + 20-row merge), never a WindowExec over the pair domain
    return (counts.orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(20)
            .select("pair", "n_occurrences"))


# ---------------------------------------------------------------------------
# simhash bit-drift: per source, how biased each of the 60 signature
# bits is across documents. A random corpus keeps every bit near 50/50;
# templated/boilerplate-heavy sources push bits hard toward 0 or 1 —
# so the biased-bit count and the mean bit skew are a cheap template-
# contamination fingerprint per ingest source. Bias tests are EXACT
# integer comparisons (|2*n_set - n| * 5 > 2 * n encodes skew > 0.4)
# and the mean skew is an integer sum with one final division.
# ---------------------------------------------------------------------------

@register(
    "docs_simhash_bit_drift",
    oracle=rf"""
    WITH th AS (
        SELECT source,
               list_transform(string_split_regex(lower(trim(text)), '\s+'),
                   t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))
                   AS hs
        FROM documents
    ),
    sigs AS (
        SELECT source,
               CAST(list_sum(list_transform(range(0, 60),
                   b -> CASE WHEN list_sum(list_transform(hs,
                            h -> CASE WHEN (h >> b) & 1 = 1
                                 THEN 1 ELSE -1 END)) > 0
                        THEN (1::BIGINT << b) ELSE 0::BIGINT END))
                   AS BIGINT) AS sig
        FROM th
    ),
    bits AS (
        SELECT source, b.b,
               CAST(SUM((sig >> b.b) & 1) AS BIGINT) AS n_set,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sigs, (SELECT unnest(range(0, 60)) AS b) b
        GROUP BY source, b.b
    )
    SELECT source, MAX(n_docs) AS n_docs,
           CAST(SUM(CASE WHEN abs(2 * n_set - n_docs) * 5 > 2 * n_docs
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_biased_bits,
           CAST(SUM(abs(2 * n_set - n_docs)) AS DOUBLE)
               / CAST(60 * MAX(n_docs) AS DOUBLE) AS mean_bit_skew
    FROM bits GROUP BY source
    """,
    doc="per-source simhash bit-drift fingerprint: count of signature "
        "bits skewed > 0.4 from 50/50 plus mean bit skew — the cheap "
        "template/boilerplate-contamination detector per ingest source; "
        "exact integer bias tests, one final division",
)
def docs_simhash_bit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.operators.dedup import (
        simhash60, token_hashes60)

    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    sigs = (docs.select("source", token_hashes60("text")
                        .alias("token_hashes"))
            .repartition(n)
            .select("source", simhash60().alias("sig")))
    bits = (sigs.select("source", "sig",
                        F.explode(F.sequence(F.lit(0), F.lit(59)))
                        .alias("b"))
            .groupBy("source", "b")
            .agg(F.sum(F.expr("(sig >> b) & 1")).cast("bigint")
                 .alias("n_set"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    return (bits.groupBy("source")
            .agg(F.max("n_docs").alias("n_docs"),
                 F.sum(F.when(
                     F.abs(2 * F.col("n_set") - F.col("n_docs")) * 5
                     > 2 * F.col("n_docs"), 1).otherwise(0))
                 .cast("bigint").alias("n_biased_bits"),
                 (F.sum(F.abs(2 * F.col("n_set") - F.col("n_docs")))
                  .cast("double")
                  / (F.lit(60) * F.max("n_docs")).cast("double"))
                 .alias("mean_bit_skew")))


# ---------------------------------------------------------------------------
# Zipf-law constancy: under Zipf, rank x frequency is roughly constant
# over the head of the vocabulary — so max/min of (rank * freq) over
# the top-k tokens is a libm-free goodness-of-Zipf diagnostic (a
# log-log regression would need ln, which is not bit-portable).
# Natural corpora sit near small ratios; templated or synthetic
# sources drift. rank * freq is exact integer arithmetic; the ratio is
# one final division.
# ---------------------------------------------------------------------------

@register(
    "text_zipf_constancy",
    oracle=r"""
    WITH tok AS (
        SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+'))
            AS token
        FROM documents
    ),
    freq AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok GROUP BY source, token
    ),
    ranked AS (
        SELECT source, f,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY f DESC, token) AS r
        FROM freq
    ),
    head AS (
        SELECT source, r * f AS rf FROM ranked WHERE r <= 20
    )
    SELECT source,
           CAST(MIN(rf) AS BIGINT) AS min_rank_freq,
           CAST(MAX(rf) AS BIGINT) AS max_rank_freq,
           CAST(MAX(rf) AS DOUBLE) / CAST(MIN(rf) AS DOUBLE)
               AS zipf_constancy_ratio
    FROM head GROUP BY source
    """,
    doc="libm-free Zipf diagnostic per source: max/min of rank x "
        "frequency over the top-20 tokens (constant under Zipf; "
        "templated/synthetic sources drift) — exact integer products, "
        "one final division; per-source rank windows over the "
        "aggregated vocabulary only",
)
def text_zipf_constancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source",
                      F.explode(F.expr(_TOKS_SPARK)).alias("token"))
    freq = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("f"))
    w = Window.partitionBy("source").orderBy(F.desc("f"), F.asc("token"))
    head = (freq.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= 20)
            .select("source", (F.col("r") * F.col("f")).alias("rf")))
    return (head.groupBy("source")
            .agg(F.min("rf").cast("bigint").alias("min_rank_freq"),
                 F.max("rf").cast("bigint").alias("max_rank_freq"),
                 (F.max("rf").cast("double") / F.min("rf").cast("double"))
                 .alias("zipf_constancy_ratio")))


# ---------------------------------------------------------------------------
# Token-rarity quality proxy with a BOUNDED dictionary: per-document
# mean frequency rank + out-of-vocabulary rate against the corpus's
# top-K tokens.  The 100 TB design point is the cap: only the top
# _RANK_K tokens get ranks (a fixed-size frame — broadcastable at any
# corpus size), everything else collapses into one OOV bucket with
# rank K+1, so the scoring join never shuffles the unbounded vocabulary.
# High mean rank / OOV rate flags gibberish and boilerplate-free noise
# — the rarity signal quality filters use without needing a (libm,
# non-portable) log-perplexity model.  All counts and ranks integer;
# the two ratios are single divisions, so every value hash-matches.

_RANK_K = 4096


@register(
    "text_token_rarity_scores",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t.token
        FROM (SELECT doc_id, unnest({{toks}}) AS token FROM documents) t
        WHERE t.token <> ''
    ),
    vocab AS (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token)
                   AS rank
        FROM tok GROUP BY token
        QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token)
                <= {_RANK_K}
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(v.rank, {_RANK_K + 1})) AS BIGINT)
               AS sum_rank,
           CAST(SUM(COALESCE(v.rank, {_RANK_K + 1})) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_rank,
           CAST(SUM(CASE WHEN v.rank IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.rank IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_ratio
    FROM tok LEFT JOIN vocab v ON v.token = tok.token
    GROUP BY tok.doc_id
    """.replace("{toks}", _TOKS_DUCK),
    doc="token-rarity quality scores against a bounded top-4096 "
        "dictionary (broadcastable at any corpus size; tail collapses "
        "to one OOV rank) — mean rank + OOV rate per document, the "
        "portable substitute for log-perplexity quality filtering",
)
def text_token_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (docs.select(
        "doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("token"))
        .where(F.col("token") != ""))
    # top-K first (TakeOrdered: per-partition top-k + k-row merge), so
    # the ranking window only ever sees _RANK_K rows — never a
    # single-partition sort of the unbounded vocabulary
    w = Window.orderBy(F.desc("cnt"), "token")
    vocab = (tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy(F.desc("cnt"), "token").limit(_RANK_K)
             .withColumn("rank", F.row_number().over(w))
             .drop("cnt"))
    rank = F.coalesce(F.col("rank"), F.lit(_RANK_K + 1))
    return (tok.join(F.broadcast(vocab), "token", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(rank).cast("bigint").alias("sum_rank"),
                 (F.sum(rank).cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("mean_rank"),
                 F.sum(F.when(F.col("rank").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_oov"),
                 (F.sum(F.when(F.col("rank").isNull(), 1).otherwise(0))
                  .cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("oov_ratio")))


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling" — public paper):
# hash every token into a fixed feature space (1024 buckets via the
# portable 60-bit md5 idiom), estimate the target distribution from
# an in-corpus target slice (lang='en') and the source distribution
# from the whole corpus, then score each document by how much more
# target-like than source-like its hashed unigram profile is.  Kept
# hash-portable by replacing the paper's sum-of-log-ratios with the
# rational pair (numer, denom) = (sum of add-1-smoothed target hits,
# sum of add-1-smoothed source hits) — pure BIGINT sums — and ONE
# final double division for the ranking weight (IEEE division of two
# int64-backed doubles is bit-stable across engines).
#
# 100 TB shape: the bucket frequency tables are <= 1024 rows however
# big the corpus is — broadcast both; the only data-sized shuffles are
# the (doc, bucket) partial-count aggregation and the per-doc rollup;
# top-100 compiles to TakeOrderedAndProject.

_DSIR_BUCKETS = 1024
_DSIR_TOPK = 100
_DSIR_HV_DUCK = ("CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)"
                 f" % {_DSIR_BUCKETS}")
_DSIR_HV_SPARK = ("CAST(conv(substr(md5(CAST(token AS BINARY)), 1, 15),"
                  f" 16, 10) AS BIGINT) % {_DSIR_BUCKETS}")


@register(
    "text_dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               {_DSIR_HV_DUCK} AS bucket
        FROM (SELECT doc_id, lang, unnest({_TOKS_DUCK}) AS token
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
    )
    SELECT CAST(s.doc_id AS BIGINT) AS doc_id, d.lang, s.numer,
           s.denom,
           CAST(s.numer AS DOUBLE) / CAST(s.denom AS DOUBLE)
               AS dsir_weight
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY dsir_weight DESC, s.doc_id
    LIMIT {_DSIR_TOPK}
    """,
    doc="DSIR-style hashed-unigram importance weights: 1024-bucket "
        "portable md5 feature space, target = lang='en' slice, source "
        "= whole corpus; per-doc rational (numer, denom) in BIGINT "
        "with add-1 smoothing and one final double division; bucket "
        "tables broadcast (constant 1024 rows at any corpus size), "
        "top-100 via TakeOrderedAndProject",
    bench=True,
)
def text_dsir_importance_weights(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang",
        F.explode(F.expr(_TOKS_SPARK)).alias("token")).select(
        "doc_id", "lang", F.expr(_DSIR_HV_SPARK).alias("bucket"))
    src = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("src_c"))
    tgt = (tok.where(F.col("lang") == "en").groupBy("bucket")
           .agg(F.count(F.lit(1)).cast("bigint").alias("tgt_c")))
    db = tok.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    scored = (db.join(F.broadcast(src), "bucket")
              .join(F.broadcast(tgt), "bucket", "left")
              .groupBy("doc_id")
              .agg(F.sum(F.col("c") * (F.coalesce(F.col("tgt_c"),
                                                  F.lit(0)) + 1))
                   .cast("bigint").alias("numer"),
                   F.sum(F.col("c") * (F.col("src_c") + 1))
                   .cast("bigint").alias("denom")))
    return (scored.join(docs.select("doc_id", "lang"), "doc_id")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "lang", "numer", "denom",
                    (F.col("numer").cast("double")
                     / F.col("denom").cast("double"))
                    .alias("dsir_weight"))
            .orderBy(F.desc("dsir_weight"), "doc_id")
            .limit(_DSIR_TOPK))


# ---------------------------------------------------------------------------
# Cross-document boilerplate detection (C4/RefinedWeb-style cleanup,
# beyond-reference LLM-pipeline surface): an 8-token shingle that
# recurs across >= _BP_MIN_DOCS distinct documents is boilerplate
# (navigation chrome, license headers, templated text). The report is
# per source — the unit a curation decision acts on. 100 TB shape:
# the shingle->df table is corpus-scaled, so the hit join shuffles on
# the shingle key (never broadcast); per-doc and per-source rollups
# shuffle on doc_id/source. No stage holds more than one doc's
# shingle set in a row.
# ---------------------------------------------------------------------------

_BP_N = 8          # shingle width (tokens)
_BP_MIN_DOCS = 5   # a shingle in >= this many docs is boilerplate


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_DUCK} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {_BP_N} + 1, 0) + 1),
                   i -> list_aggregate(
                            t[CAST(i AS INTEGER):
                              CAST(i + {_BP_N} - 1 AS INTEGER)],
                            'string_agg', ' '))) AS gs
        FROM toks
    ),
    g AS (SELECT doc_id, source, unnest(gs) AS g FROM grams),
    df AS (
        SELECT g, COUNT(DISTINCT doc_id) AS n_docs_with
        FROM g GROUP BY g
    ),
    per_doc AS (
        SELECT g.doc_id, g.source,
               COUNT(*) AS n_shingles,
               SUM(CASE WHEN df.n_docs_with >= {_BP_MIN_DOCS}
                        THEN 1 ELSE 0 END) AS n_boiler
        FROM g JOIN df USING (g)
        GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
           CAST(SUM(n_boiler) AS BIGINT) AS n_boiler,
           CAST(SUM(n_boiler) AS DOUBLE) / CAST(SUM(n_shingles) AS DOUBLE)
               AS boiler_rate,
           MAX(CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE))
               AS max_doc_boiler_ratio
    FROM per_doc
    GROUP BY source
    """,
    doc="cross-document boilerplate census: distinct 8-token shingles "
        "recurring in >= 5 documents (template chrome, license "
        "headers) rolled up per source — total shingles, boilerplate "
        "hits, rate, and the worst single document's ratio. Per-doc "
        "totals aggregate without any join; only the df>=threshold "
        "posting lists enter the shingle-keyed join (shuffled, never "
        "broadcast — the key set is corpus-scaled), so sub-threshold "
        "shingles never ride a shuffle twice; rates are integer-sum "
        "divisions and a max of single-division doubles (bit-stable).",
    bench=True,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    # sequence(1, 0) descends in Spark: explicit empty branch for short
    # docs (same generator-trap discipline as text_contamination_13gram)
    gs = (f"CASE WHEN size(t) >= {_BP_N} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {_BP_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_BP_N})))) "
          f"ELSE array() END")
    # Round-14 re-plan (guide §2.3/§2.4): the exploded shingle stream
    # feeds THREE consumers (df, per-doc totals, boilerplate hits) —
    # left lazy, the tokenizer + 8-gram explode ran three times per
    # call. localCheckpoint materializes it once; each consumer scans
    # the stored stream. And because `gs` is array_distinct'ed per
    # document, (doc_id, g) rows are already unique, so the df count
    # is a plain COUNT(*) — COUNT(DISTINCT doc_id) planned as TWO
    # exchanges (partial keys (g, doc_id), then g); same integer, one
    # exchange.
    g = (docs.select("doc_id", "source", F.expr(_TOKS_SPARK).alias("t"))
         .repartition(n)
         .withColumn("gs", F.expr(gs))
         .select("doc_id", "source", F.explode_outer("gs").alias("g"))
         .where(F.col("g").isNotNull())
         .localCheckpoint())
    df = g.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_docs_with"))
    # the denominator (per-doc shingle totals) needs no df join at
    # all, and the numerator only needs posting lists of shingles that
    # MEET the boilerplate threshold — so the shingle-keyed join
    # carries just the df>=MIN_DOCS keys (boilerplate is rare; this is
    # the r9-advice df-pruning discipline taken to its endpoint: the
    # sub-threshold shingles, singletons included, never enter a join)
    per_total = (g.groupBy("doc_id", "source")
                 .agg(F.count(F.lit(1)).alias("n_shingles")))
    boiler_keys = (df.where(F.col("n_docs_with") >= _BP_MIN_DOCS)
                   .select("g"))
    per_boiler = (g.join(boiler_keys, "g")
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_boiler")))
    per_doc = (per_total.join(per_boiler, "doc_id", "left")
               .withColumn("n_boiler",
                           F.coalesce(F.col("n_boiler"), F.lit(0))))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_shingles").cast("bigint").alias("n_shingles"),
                 F.sum("n_boiler").cast("bigint").alias("n_boiler"),
                 (F.sum("n_boiler").cast("double")
                  / F.sum("n_shingles").cast("double")).alias("boiler_rate"),
                 F.max(F.col("n_boiler").cast("double")
                       / F.col("n_shingles").cast("double"))
                 .alias("max_doc_boiler_ratio")))


# ---------------------------------------------------------------------------
# Collocation mining: top adjacent-word bigrams by a RATIONAL PMI
# (pointwise mutual information with the log dropped — x -> ln x is
# monotone, so the ranking is identical and the score is one exact
# integer-product division instead of a libm call that differs in the
# last ulp across engines; the same trick as the TF-IDF rational idf).
# 100 TB shape: two token-keyed aggregates + one join of the bigram
# table against the unigram table on the word key (corpus-vocabulary-
# scaled — shuffles, never broadcast), TakeOrdered top-50.
# ---------------------------------------------------------------------------

_PMI_MIN_SUP = 5
_PMI_TOPK = 50


@register(
    "text_bigram_pmi_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_DUCK} AS t FROM documents
    ),
    uni AS (
        SELECT u.token, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS token FROM toks) u
        WHERE u.token <> '' GROUP BY u.token
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
    bg AS (
        SELECT list_aggregate(b.g, 'string_agg', ' ') AS bigram,
               b.g[1] AS word_a, b.g[2] AS word_b,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM (
            SELECT unnest(list_transform(
                       range(1, greatest(len(t) - 1, 0) + 1),
                       i -> t[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)]))
                   AS g
            FROM toks) b
        WHERE b.g[1] <> '' AND b.g[2] <> ''
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= {_PMI_MIN_SUP}
    )
    SELECT word_a, word_b, c_ab,
           ua.c AS c_a, ub.c AS c_b,
           CAST(c_ab * n.n_uni AS DOUBLE)
               / CAST(ua.c * ub.c AS DOUBLE) AS pmi_ratio
    FROM bg JOIN uni ua ON ua.token = bg.word_a
    JOIN uni ub ON ub.token = bg.word_b, n
    ORDER BY pmi_ratio DESC, word_a, word_b
    LIMIT {_PMI_TOPK}
    """,
    doc=f"collocation mining: top-{_PMI_TOPK} adjacent-word bigrams by "
        "rational PMI (c_ab * N / (c_a * c_b) — log dropped, ranking "
        f"identical, score bit-stable), support >= {_PMI_MIN_SUP}; "
        "bigram and unigram tables join on the word key (vocabulary-"
        "scaled, shuffled), top-k compiles to TakeOrderedAndProject",
)
def text_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    toks = (docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
            .repartition(n))
    uni = (toks.select(F.explode("t").alias("token"))
           .where(F.col("token") != "")
           .groupBy("token")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("n_uni"))
    # sequence(1, 0) descends in Spark: explicit empty branch, and
    # explode_outer so the inferred generator filter can't re-inline
    # the pair builder below the barrier
    pairs = ("CASE WHEN size(t) >= 2 THEN "
             "transform(sequence(1, size(t) - 1), "
             "i -> struct(element_at(t, i) AS word_a, "
             "element_at(t, i + 1) AS word_b)) "
             "ELSE array() END")
    bg = (toks.withColumn("gs", F.expr(pairs))
          .select(F.explode_outer("gs").alias("g"))
          .where(F.col("g").isNotNull())
          .select("g.word_a", "g.word_b")
          .where((F.col("word_a") != "") & (F.col("word_b") != ""))
          .groupBy("word_a", "word_b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
          .where(F.col("c_ab") >= _PMI_MIN_SUP))
    out = (bg.join(uni.select(F.col("token").alias("word_a"),
                              F.col("c").alias("c_a")), "word_a")
           .join(uni.select(F.col("token").alias("word_b"),
                            F.col("c").alias("c_b")), "word_b")
           .join(F.broadcast(n_uni))
           .select("word_a", "word_b", "c_ab", "c_a", "c_b",
                   ((F.col("c_ab") * F.col("n_uni")).cast("double")
                    / (F.col("c_a") * F.col("c_b")).cast("double"))
                   .alias("pmi_ratio")))
    return out.orderBy(F.desc("pmi_ratio"), "word_a", "word_b") \
              .limit(_PMI_TOPK)


# ---------------------------------------------------------------------------
# Gopher-style repetition filter (Rae et al. 2021 §A1.1): the fraction
# of CHARACTERS inside duplicated token n-grams, per document — the
# complement of text_repetition_scores' top-token ratio (which misses
# long repeated phrases built from common words). Everything is
# per-document: the n-gram term-frequency groupBy carries (doc_id,
# gram) keys, so the shuffle is corpus-linear and no cross-document
# state exists at any point; all ratios are single divisions of
# integer sums (bit-stable).
# ---------------------------------------------------------------------------

_DG_N = 3          # token n-gram size for the duplicate-chars rule
_DG_FLAG = 0.30    # per-doc dup-char fraction above which a doc flags


@register(
    "text_dup_ngram_chars",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_DUCK} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               list_transform(
                   range(1, greatest(len(t) - {_DG_N} + 1, 0) + 1),
                   i -> list_aggregate(
                            t[CAST(i AS INTEGER):
                              CAST(i + {_DG_N} - 1 AS INTEGER)],
                            'string_agg', ' ')) AS gs
        FROM toks
    ),
    g AS (SELECT doc_id, source, unnest(gs) AS g FROM grams),
    tf AS (
        SELECT doc_id, source, g, COUNT(*) AS c
        FROM g GROUP BY doc_id, source, g
    ),
    per_doc AS (
        SELECT doc_id, source,
               CAST(SUM(CASE WHEN c >= 2 THEN len(g) * c ELSE 0 END)
                    AS BIGINT) AS dup_chars,
               CAST(SUM(len(g) * c) AS BIGINT) AS total_chars
        FROM tf GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dup_chars) AS BIGINT) AS dup_chars,
           CAST(SUM(total_chars) AS BIGINT) AS total_chars,
           CAST(SUM(dup_chars) AS DOUBLE) / CAST(SUM(total_chars) AS DOUBLE)
               AS dup_char_rate,
           MAX(CAST(dup_chars AS DOUBLE) / CAST(total_chars AS DOUBLE))
               AS max_doc_dup_ratio,
           CAST(SUM(CASE WHEN CAST(dup_chars AS DOUBLE)
                              / CAST(total_chars AS DOUBLE) > {_DG_FLAG}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged
    FROM per_doc GROUP BY source
    """,
    doc=f"Gopher-style duplicate-{_DG_N}-gram character fraction per "
        "document, rolled up per source (total/duplicated gram chars, "
        "rate, worst doc, docs over the "
        f"{_DG_FLAG} flag threshold) — catches long repeated phrases "
        "that a top-token ratio misses; per-doc keys only (corpus-"
        "linear shuffle, no cross-document state), single-division "
        "doubles",
    bench=True,
)
def text_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    # same generator-trap discipline as text_boilerplate_ngrams:
    # explicit empty branch (sequence(1, 0) descends in Spark) and
    # explode_outer so the inferred generator filter cannot re-inline
    # the gram transform below the repartition barrier
    gs = (f"CASE WHEN size(t) >= {_DG_N} THEN "
          f"transform(sequence(1, size(t) - {_DG_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_DG_N}))) "
          f"ELSE array() END")
    # hash-repartition BY doc_id (round 14, guide §2.4): every groupBy
    # below keys on doc_id (tf on (doc_id, source, g), per_doc on
    # (doc_id, source)), so the up-front partitioning satisfies both
    # and the exploded gram stream never rides another exchange; the
    # final per-source rollup moves only per-doc rows
    g = (docs.select("doc_id", "source", F.expr(_TOKS_SPARK).alias("t"))
         .repartition(n, "doc_id")
         .withColumn("gs", F.expr(gs))
         .select("doc_id", "source", F.explode_outer("gs").alias("g"))
         .where(F.col("g").isNotNull()))
    tf = (g.groupBy("doc_id", "source", "g")
          .agg(F.count(F.lit(1)).alias("c")))
    gram_chars = F.length("g").cast("bigint") * F.col("c")
    per_doc = (tf.groupBy("doc_id", "source")
               .agg(F.sum(F.when(F.col("c") >= 2, gram_chars)
                          .otherwise(0)).cast("bigint").alias("dup_chars"),
                    F.sum(gram_chars).cast("bigint").alias("total_chars")))
    ratio = (F.col("dup_chars").cast("double")
             / F.col("total_chars").cast("double"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("dup_chars").cast("bigint").alias("dup_chars"),
                 F.sum("total_chars").cast("bigint").alias("total_chars"),
                 (F.sum("dup_chars").cast("double")
                  / F.sum("total_chars").cast("double"))
                 .alias("dup_char_rate"),
                 F.max(ratio).alias("max_doc_dup_ratio"),
                 F.sum(F.when(ratio > _DG_FLAG, 1).otherwise(0))
                 .cast("bigint").alias("n_docs_flagged")))


# ---------------------------------------------------------------------------
# Token-distribution drift: the TEXT twin of sim_embedding_drift_report
# — before folding an arrival batch into a served corpus (same
# base/arrival split convention as the incremental index family),
# compare per-token document frequencies between the two halves in
# integer ppm and rank tokens by a rational chi-square contribution.
# One (half, token)-keyed groupBy over the exploded distinct tokens —
# vocabulary-scaled, never pairwise; the only double is one final
# division per token.
# ---------------------------------------------------------------------------

_TD_TOPK = 50
_TD_MIN_DF = 3  # ignore tokens too rare to say anything about drift


@register(
    "text_token_drift_report",
    oracle=f"""
    WITH halves AS (
        SELECT doc_id, (doc_id % 5 = 0) AS is_arr,
               list_distinct({_TOKS_DUCK}) AS t
        FROM documents
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb
        FROM halves
    ),
    df AS (
        SELECT u.token,
               CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS dfa,
               CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS dfb
        FROM (SELECT is_arr, unnest(t) AS token FROM halves) u
        WHERE u.token <> ''
        GROUP BY u.token
        HAVING COUNT(*) >= {_TD_MIN_DF}
    ),
    p AS (
        SELECT token,
               (dfa + 1) * 1000000 // (t.na + 1) AS pa,
               (dfb + 1) * 1000000 // (t.nb + 1) AS pb
        FROM df, tot t
    )
    SELECT token, CAST(pa AS BIGINT) AS base_ppm,
           CAST(pb AS BIGINT) AS arrival_ppm,
           CAST((pb - pa) * (pb - pa) AS BIGINT) AS gap_sq,
           CASE WHEN pa + pb = 0 THEN 0.0
                ELSE CAST((pb - pa) * (pb - pa) AS DOUBLE)
                     / CAST(pa + pb AS DOUBLE) END AS drift_score
    FROM p
    ORDER BY drift_score DESC, token
    LIMIT {_TD_TOPK}
    """,
    doc="token-distribution drift between the base corpus and the "
        "arrival batch (doc_id % 5 split, the incremental family's "
        "convention): per-token document frequencies as add-1-smoothed "
        f"integer ppm, top-{_TD_TOPK} tokens by rational chi-square "
        "contribution ((pb-pa)^2/(pa+pb), one double division) — the "
        "text twin of sim_embedding_drift_report; vocabulary-keyed "
        "groupBy, TakeOrdered top-k",
)
def text_token_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    halves = (docs.select(
        "doc_id", (F.col("doc_id") % 5 == 0).alias("is_arr"),
        F.array_distinct(F.expr(_TOKS_SPARK)).alias("t"))
        .repartition(n))
    tot = halves.agg(
        F.sum(F.when(~F.col("is_arr"), 1).otherwise(0))
        .cast("bigint").alias("na"),
        F.sum(F.when(F.col("is_arr"), 1).otherwise(0))
        .cast("bigint").alias("nb"))
    df = (halves.select("is_arr", F.explode("t").alias("token"))
          .where(F.col("token") != "")
          .groupBy("token")
          .agg(F.sum(F.when(~F.col("is_arr"), 1).otherwise(0))
               .cast("bigint").alias("dfa"),
               F.sum(F.when(F.col("is_arr"), 1).otherwise(0))
               .cast("bigint").alias("dfb"),
               F.count(F.lit(1)).alias("n_total"))
          .where(F.col("n_total") >= _TD_MIN_DF))
    p = (df.join(F.broadcast(tot))
         .select("token",
                 F.expr("(dfa + 1) * 1000000 div (na + 1)").alias("pa"),
                 F.expr("(dfb + 1) * 1000000 div (nb + 1)").alias("pb")))
    gap_sq = (F.col("pb") - F.col("pa")) * (F.col("pb") - F.col("pa"))
    out = p.select(
        "token",
        F.col("pa").cast("bigint").alias("base_ppm"),
        F.col("pb").cast("bigint").alias("arrival_ppm"),
        gap_sq.cast("bigint").alias("gap_sq"),
        F.when(F.col("pa") + F.col("pb") == 0, F.lit(0.0))
        .otherwise(gap_sq.cast("double")
                   / (F.col("pa") + F.col("pb")).cast("double"))
        .alias("drift_score"))
    return out.orderBy(F.desc("drift_score"), "token").limit(_TD_TOPK)


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of all token OCCURRENCES a
# top-k vocabulary covers, for the k values a tokenizer design sweep
# cares about. No global rank sort exists anywhere: the token
# frequency table collapses into a count HISTOGRAM (value,
# multiplicity) — Zipfian corpora keep it tiny — and top-k occurrence
# mass comes out in closed form per value group (every token in a
# group has the same count, so the straddling group contributes
# exactly (k - tokens_above) * value). Same discipline as the Gini
# rank sums; the only window runs over the bounded histogram.
# ---------------------------------------------------------------------------

_VOCAB_KS = (256, 1024, 4096, 16384)


@register(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKS_DUCK}) AS token FROM documents
    ),
    tf AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE token <> '' GROUP BY token
    ),
    hist AS (
        SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS m FROM tf GROUP BY c
    ),
    ranked AS (
        SELECT v, m,
               COALESCE(SUM(m) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM hist
    ),
    ks AS (SELECT unnest([{', '.join(map(str, _VOCAB_KS))}]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(SUM(v * least(m, greatest(k - cum_before, 0)))
                AS BIGINT) AS covered_occurrences,
           CAST(SUM(v * m) AS BIGINT) AS total_occurrences,
           CAST(SUM(v * least(m, greatest(k - cum_before, 0))) AS DOUBLE)
               / CAST(SUM(v * m) AS DOUBLE) AS coverage
    FROM ranked, ks
    GROUP BY k
    """,
    doc="tokenizer-design coverage curve: fraction of token "
        f"occurrences covered by a top-k vocabulary for k in "
        f"{list(_VOCAB_KS)} — closed-form over the token-count "
        "HISTOGRAM (ties share a count, so the straddling group "
        "contributes exactly its remainder), no global rank sort at "
        "any corpus size; one division per k",
)
def text_vocab_coverage_curve(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    tf = (docs.select(F.explode(F.expr(_TOKS_SPARK)).alias("token"))
          .repartition(n)
          .where(F.col("token") != "")
          .groupBy("token")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    hist = tf.groupBy(F.col("c").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"))
    w = (Window.orderBy(F.desc("v"))
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = hist.withColumn(
        "cum_before", F.coalesce(F.sum("m").over(w), F.lit(0)))
    ks = local_frame(spark, [(k,) for k in _VOCAB_KS], "k bigint")
    take = F.least(F.col("m"),
                   F.greatest(F.col("k") - F.col("cum_before"), F.lit(0)))
    return (ranked.crossJoin(F.broadcast(ks))
            .groupBy("k")
            .agg(F.sum(F.col("v") * take).cast("bigint")
                 .alias("covered_occurrences"),
                 F.sum(F.col("v") * F.col("m")).cast("bigint")
                 .alias("total_occurrences"),
                 (F.sum(F.col("v") * take).cast("double")
                  / F.sum(F.col("v") * F.col("m")).cast("double"))
                 .alias("coverage")))


# ---------------------------------------------------------------------------
# Corpus novelty curve: as the corpus is consumed in doc_id order, what
# fraction of the distinct 3-gram phrases in each corpus decile is seen
# there for the FIRST time? A healthy growing corpus keeps the tail of
# the curve high; a saturating/duplicated crawl decays toward zero —
# the "is more data still new data" acquisition readout. Deciles come
# from one exact-percentile aggregate over doc_id (9 broadcast
# boundaries — never a global rank window), first-seen is min(decile)
# per shingle (decile is monotone in doc_id), and every shuffle is
# keyed on the shingle — corpus-linear at any scale.
# ---------------------------------------------------------------------------

_NOV_N = 3  # phrase length (tokens)


@register(
    "corpus_novelty_curve",
    bench=True,
    oracle=f"""
    WITH nt AS (
        SELECT doc_id, {_TOKS_DUCK} AS t FROM documents
    ),
    bounds AS (
        SELECT quantile_cont(CAST(doc_id AS DOUBLE),
                             [0.1, 0.2, 0.3, 0.4, 0.5,
                              0.6, 0.7, 0.8, 0.9]) AS bs
        FROM documents
    ),
    sd AS (
        SELECT DISTINCT n.doc_id,
               CAST(len(list_filter(b.bs,
                        x -> x <= CAST(n.doc_id AS DOUBLE)))
                    AS INTEGER) AS decile,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(n.t) - {_NOV_N} + 1, 0) + 1),
                   i -> list_aggregate(
                            n.t[CAST(i AS INTEGER):
                                CAST(i + {_NOV_N} - 1 AS INTEGER)],
                            'string_agg', ' ')))) AS g
        FROM nt n, bounds b
    ),
    first_seen AS (
        SELECT g, CAST(MIN(decile) AS INTEGER) AS first_decile
        FROM sd GROUP BY g
    ),
    types_per AS (
        SELECT decile, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_types
        FROM sd GROUP BY decile
    ),
    new_per AS (
        SELECT first_decile AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_new_types
        FROM first_seen GROUP BY first_decile
    ),
    rows_per AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_doc_shingles
        FROM sd GROUP BY decile
    )
    SELECT t.decile, r.n_doc_shingles, t.n_types,
           COALESCE(n.n_new_types, 0) AS n_new_types,
           CAST(COALESCE(n.n_new_types, 0) * 1000000 // t.n_types
                AS BIGINT) AS novelty_ppm
    FROM types_per t
    JOIN rows_per r ON r.decile = t.decile
    LEFT JOIN new_per n ON n.decile = t.decile
    """,
    doc="first-seen 3-gram novelty per corpus-order decile: distinct "
        "phrase types active in each decile, how many are first "
        "occurrences, and the novelty share in integer ppm — the "
        "data-acquisition saturation curve (novelty decaying to zero "
        "means new crawl batches are re-buying old phrases); decile "
        "boundaries are one broadcast percentile aggregate, first-"
        "seen is min(decile) per shingle, all shuffles shingle-keyed",
)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-15 pivot (guide §2.1/§2.4, on top of the r14 contingency
    # re-plan): the decile domain is FIXED (10 values), so instead of
    # a (g, decile) contingency table re-aggregated three ways (one
    # wide exchange + three re-exchanges of the |types|-domain table:
    # g-keyed first-seen, two decile-keyed counts), pivot the deciles
    # into 10 per-g counter columns in ONE g-keyed map-side-combined
    # exchange, then compute EVERYTHING in one global reduce:
    # first_decile = index of the first nonzero slot, and the
    # per-decile types / doc-shingle / new-type counts are 30 columns
    # of a single aggregate, stacked to rows. Identical integers
    # (asserted in the adoption A/B), jobs 11 -> 5; at scale all
    # three post-contingency exchanges over the shingle-type domain
    # disappear.
    docs = load_table(spark, sf_dir, "documents")
    nd = 10  # deciles 0..9 (9 percentile bounds)
    bounds = docs.agg(F.expr(
        "percentile(CAST(doc_id AS DOUBLE), array(0.1D, 0.2D, 0.3D, "
        "0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))").alias("bs"))
    gs = (f"CASE WHEN size(t) >= {_NOV_N} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {_NOV_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_NOV_N})))) "
          f"ELSE array() END")
    sd = (docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
          .join(F.broadcast(bounds))
          .select("doc_id",
                  F.expr("CAST(size(filter(bs, x -> x <= "
                         "CAST(doc_id AS DOUBLE))) AS INT)")
                  .alias("decile"),
                  F.explode(F.expr(gs)).alias("g")))
    g10 = sd.groupBy("g").agg(
        *[F.sum(F.when(F.col("decile") == i, 1).otherwise(0))
          .alias(f"c{i}") for i in range(nd)])
    per_g = g10.select(
        F.array(*[F.col(f"c{i}") for i in range(nd)]).alias("cs")
    ).select(
        "cs",
        F.expr(f"filter(sequence(0, {nd - 1}), "
               f"i -> element_at(cs, i + 1) > 0)[0]")
        .alias("first_decile"))
    tot = per_g.agg(
        *[F.sum(F.when(F.expr(f"element_at(cs, {i + 1}) > 0"), 1)
                .otherwise(0)).alias(f"types{i}") for i in range(nd)],
        *[F.sum(F.expr(f"element_at(cs, {i + 1})")).alias(f"rows{i}")
          for i in range(nd)],
        *[F.sum(F.when(F.col("first_decile") == i, 1).otherwise(0))
          .alias(f"new{i}") for i in range(nd)])
    stacked = tot.selectExpr(
        "stack({n}, {args}) AS (decile, n_types, n_doc_shingles, "
        "n_new_types)".format(
            n=nd,
            args=", ".join(
                f"{i}, types{i}, rows{i}, new{i}" for i in range(nd))))
    # a decile with zero types has no gd row under the r14 shape (and
    # no oracle row); the pivot materializes all 10, so filter
    return (stacked.where(F.col("n_types") > 0)
            .select(F.col("decile").cast("int").alias("decile"),
                    F.col("n_doc_shingles").cast("bigint")
                    .alias("n_doc_shingles"),
                    F.col("n_types").alias("n_types"),
                    F.col("n_new_types").cast("bigint")
                    .alias("n_new_types"),
                    F.expr("n_new_types * 1000000 div n_types")
                    .cast("bigint").alias("novelty_ppm")))


# ---------------------------------------------------------------------------
# Bigram OOV rate (round 12): the share of a language's bigrams that
# fall outside the corpus's top-V bigram vocabulary — the "how much of
# this slice is boilerplate vs novel phrasing" signal that complements
# corpus_bigram_diversity (distinct ratio) with a frequency-weighted
# view. The vocabulary cut is deterministic (count DESC, bigram ASC)
# and TakeOrdered-sized (top-1000, never a full sort); membership is
# one broadcast join of the bounded vocab against the bigram stream.
# ---------------------------------------------------------------------------

_OOV_VOCAB = 1000


@register(
    "corpus_bigram_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT lang, {_TOKS_DUCK} AS t FROM documents
    ),
    bg AS (
        SELECT lang,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[CAST(i AS INTEGER)] || ' ' ||
                        t[CAST(i + 1 AS INTEGER)]) AS gs
        FROM toks
    ),
    grams AS (SELECT lang, unnest(gs) AS bigram FROM bg),
    vocab AS (
        SELECT bigram FROM (
            SELECT bigram, COUNT(*) AS c FROM grams
            GROUP BY bigram ORDER BY c DESC, bigram LIMIT {_OOV_VOCAB}
        ) v
    )
    SELECT g.lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST((1000000 * SUM(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0
                               END)) // COUNT(*) AS BIGINT) AS oov_ppm
    FROM grams g LEFT JOIN vocab v ON v.bigram = g.bigram
    GROUP BY g.lang
    """,
    doc="per-language out-of-vocabulary bigram rate vs the corpus "
        "top-1000 bigram vocab (deterministic count-desc/lexicographic "
        "cut): frequency-weighted novelty next to "
        "corpus_bigram_diversity; TakeOrdered vocab + one broadcast "
        "membership join over the bigram stream",
)
def corpus_bigram_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    gs = ("CASE WHEN size(t) >= 2 THEN "
          "transform(sequence(1, size(t) - 1), "
          "i -> concat(t[i - 1], ' ', t[i])) "
          "ELSE array() END")
    grams = (docs.select("lang", F.expr(_TOKS_SPARK).alias("t"))
             .repartition(n)
             .withColumn("gs", F.expr(gs))
             .select("lang", F.explode_outer("gs").alias("bigram"))
             .where(F.col("bigram").isNotNull())
             .localCheckpoint())
    vocab = (grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), F.asc("bigram")).limit(_OOV_VOCAB)
             .select("bigram", F.lit(1).alias("in_vocab")))
    return (grams.join(F.broadcast(vocab), "bigram", "left")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_oov"))
            .select("lang", "n_bigrams", "n_oov",
                    F.expr("(1000000 * n_oov) div n_bigrams")
                    .cast("bigint").alias("oov_ppm")))


# ---------------------------------------------------------------------------
# Character-class profile (round 12): the per-language composition of
# the corpus in exact integer ppm — the cheap structural quality
# signal (a lang slice suddenly heavy in digits or punctuation is a
# scrape regression) next to text_quality_scores' per-doc view. Class
# counts come from length deltas of global regexp_replace (DuckDB
# needs the explicit 'g' flag; Spark replaces globally by default) —
# one scan, one bounded groupBy, no explode.
# ---------------------------------------------------------------------------

# (class label, regex class) — patterns chosen to read identically in
# a DuckDB single-quoted literal (no backslash escape processing) and
# a Java regex. The whitespace class is pinned to an EXPLICIT set
# (r12 advice): Java's \s includes \x0B (vertical tab) while RE2's
# does not, so a document containing \x0B would diverge the two
# engines; [ \t\n\r\f] is the same set in both.
_CHAR_CLASSES = [
    ("alpha", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\n\\r\\f]"),
]


@register(
    "corpus_char_class_profile",
    oracle=f"""
    WITH d AS (
        SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
               {", ".join(
                   f"CAST(length(text) - length(regexp_replace(text, "
                   f"'{cc}', '', 'g')) AS BIGINT) AS n_{label}"
                   for label, cc in _CHAR_CLASSES)}
        FROM documents
    )
    SELECT lang,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           {", ".join(
               f"CAST((1000000 * SUM(n_{label})) // SUM(n_chars) "
               f"AS BIGINT) AS {label}_ppm"
               for label, _ in _CHAR_CLASSES)},
           CAST((1000000 * (SUM(n_chars)
                {"".join(f" - SUM(n_{label})" for label, _ in _CHAR_CLASSES)}
                )) // SUM(n_chars) AS BIGINT) AS other_ppm
    FROM d GROUP BY lang
    """,
    doc="per-language character-class composition (alpha/digit/space/"
        "other ppm, exact integers): the corpus-level scrape-"
        "regression signal next to text_quality_scores; class counts "
        "via global-regexp length deltas, one scan + bounded groupBy",
)
def corpus_char_class_profile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", F.length("text").cast("bigint").alias("n_chars"),
        *[(F.length("text")
           - F.length(F.regexp_replace(F.col("text"), cc, "")))
          .cast("bigint").alias(f"n_{label}")
          for label, cc in _CHAR_CLASSES])
    aggs = [F.sum("n_chars").cast("bigint").alias("n_chars")] + [
        F.expr(f"CAST((1000000 * sum(n_{label})) div sum(n_chars) "
               f"AS BIGINT)").alias(f"{label}_ppm")
        for label, _ in _CHAR_CLASSES]
    other = " - ".join(["sum(n_chars)"]
                       + [f"sum(n_{label})" for label, _ in _CHAR_CLASSES])
    aggs.append(F.expr(f"CAST((1000000 * ({other})) div sum(n_chars) "
                       "AS BIGINT)").alias("other_ppm"))
    return d.groupBy("lang").agg(*aggs)


@register(
    "text_hapax_ratio_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_DUCK}) AS token FROM documents
    ),
    tf AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST((1000000 * SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS hapax_ppm,
           CAST(SUM(tf) AS BIGINT) AS total_tokens
    FROM tf GROUP BY source
    """,
    doc="hapax legomena share per source: vocabulary size, tokens "
        "occurring exactly once, their ppm of the vocabulary, and "
        "total token mass — the lexical-health signal next to "
        "text_vocab_stats' type-token ratio (a scrape regression or "
        "template flood moves hapax share before it moves TTR); same "
        "whitespace tokenizer as the rest of the text family, one "
        "(source, token) shuffle with map-side combine, then a "
        "bounded per-source rollup",
)
def text_hapax_ratio_by_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("source",
                      F.explode(F.expr(_TOKS_SPARK)).alias("token"))
          .groupBy("source", "token")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    hap = F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).cast("bigint")
    return (tf.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
                 hap.alias("n_hapax"),
                 F.sum("tf").cast("bigint").alias("total_tokens"))
            .select("source", "vocab_size", "n_hapax",
                    F.expr("(1000000 * n_hapax) div vocab_size")
                    .cast("bigint").alias("hapax_ppm"),
                    "total_tokens"))


# ---------------------------------------------------------------------------
# Rank-frequency (Zipf) profile over the GLOBAL vocabulary (round 14):
# octave bands of each token's global frequency rank, with the type
# count and token mass per band — the full-curve companion to
# text_zipf_constancy's top-20 head diagnostic (corpus mixing, scrape
# regressions, and template floods bend different parts of the curve).
# The global rank is the scale problem: a ROW_NUMBER() window with no
# PARTITION BY is a single-task sort of the whole vocabulary, so the
# Spark side uses operators/ranking.global_rank (range-partitioned
# two-phase rank — no single-partition sort anywhere; the oracle's
# global window is fine single-node).  Integer counts end-to-end;
# bounded <=64-band output.
# ---------------------------------------------------------------------------

@register(
    "text_zipf_rank_profile",
    oracle=rf"""
    WITH tok AS (
        SELECT unnest({_TOKS_DUCK}) AS token FROM documents
    ),
    freq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok GROUP BY token
    ),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r
        FROM freq
    )
    SELECT CAST(length(bin(r)) AS INTEGER) AS rank_band,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(f) AS BIGINT) AS total_freq,
           CAST(MAX(f) AS BIGINT) AS max_freq,
           CAST(MIN(f) AS BIGINT) AS min_freq
    FROM ranked GROUP BY 1
    """,
    doc="octave-banded rank-frequency profile of the global "
        "vocabulary (band = bit length of the frequency rank; Zipf "
        "predicts near-equal token mass per octave): type count, "
        "token mass, and the frequency range per band — the "
        "whole-curve Zipf evidence behind vocabulary truncation and "
        "rarity-filter choices; the global rank runs as a "
        "distributed two-phase range rank (operators/ranking.py), "
        "never a single-partition window sort",
)
def text_zipf_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.operators.ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(F.expr(_TOKS_SPARK)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("f")))
    ranked = global_rank(freq, [F.desc("f"), F.asc("token")],
                         rank_col="r")
    return (ranked.groupBy(F.length(F.bin(F.col("r"))).cast("int")
                           .alias("rank_band"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum("f").cast("bigint").alias("total_freq"),
                 F.max("f").cast("bigint").alias("max_freq"),
                 F.min("f").cast("bigint").alias("min_freq")))
