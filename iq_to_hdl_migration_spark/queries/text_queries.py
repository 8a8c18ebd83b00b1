"""Text-analysis operators over `documents` (brief: language-ID,
quality scoring, token counting, fingerprinting). All JVM-side
(`split`/HOFs/regex/md5) — no Python UDFs — and all hash-checked
against DuckDB list-function oracles.

DuckDB dialect notes baked into the oracles: `regexp_replace` needs the
'g' flag (Spark replaces all matches by default); list ops are
`list_transform`/`list_filter`/`list_contains` vs Spark's
`transform`/`filter`/`array_contains`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.session import local_frame
from iq_to_hdl_migration_spark.sources.tables import load_table

_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]
_SW_SQL = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"
_SW_DUCK = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

_TOKS_SPARK = r"split(lower(trim(text)), '\\s+')"
_TOKS_DUCK = r"string_split_regex(lower(trim(text)), '\s+')"

# language marker words for the n-gram/marker language-ID heuristic
_MARKERS = {"en": ["the", "and", "of"], "de": ["der", "die", "und"],
            "es": ["el", "los", "y"], "fr": ["le", "les", "et"]}


@register(
    "text_token_stats",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len({_TOKS_DUCK}) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(list_sum(list_transform({_TOKS_DUCK}, x -> length(x)))
                AS DOUBLE) / CAST(len({_TOKS_DUCK}) AS DOUBLE)
               AS avg_token_len
    FROM documents
    """,
    doc="per-doc token counting (whitespace tokenizer, JVM-side)",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size({_TOKS_SPARK}) AS INT)").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.expr(f"""CAST(aggregate(transform({_TOKS_SPARK}, x -> length(x)),
                                  0, (acc, x) -> acc + x) AS DOUBLE)
                   / CAST(size({_TOKS_SPARK}) AS DOUBLE)""")
        .alias("avg_token_len"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER)
               AS n_punct,
           CAST(len(list_filter({_TOKS_DUCK},
                                x -> list_contains({_SW_DUCK}, x)))
                AS DOUBLE) / CAST(len({_TOKS_DUCK}) AS DOUBLE)
               AS stopword_ratio,
           CASE WHEN len({_TOKS_DUCK}) >= 10
                 AND len(list_filter({_TOKS_DUCK},
                                     x -> list_contains({_SW_DUCK}, x))) > 0
                THEN 'good' ELSE 'low' END AS quality_label
    FROM documents
    """,
    doc="quality scoring: punctuation count, stopword ratio, label "
        "(length/stopword heuristics per the brief)",
    bench=True,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_stop = (f"size(filter({_TOKS_SPARK}, "
              f"x -> array_contains({_SW_SQL}, x)))")
    return docs.select(
        "doc_id",
        F.expr("CAST(length(regexp_replace(text, '[^.,;:!?]', '')) AS INT)")
        .alias("n_punct"),
        F.expr(f"CAST({n_stop} AS DOUBLE) / CAST(size({_TOKS_SPARK}) AS DOUBLE)")
        .alias("stopword_ratio"),
        F.expr(f"""CASE WHEN size({_TOKS_SPARK}) >= 10 AND {n_stop} > 0
                   THEN 'good' ELSE 'low' END""").alias("quality_label"),
    )


def _marker_counts_sql(toks_expr: str, contains_fn: str, arr_open: str,
                       arr_close: str) -> dict[str, str]:
    out = {}
    for lang, words in _MARKERS.items():
        arr = arr_open + ", ".join(f"'{w}'" for w in words) + arr_close
        if contains_fn == "spark":
            out[lang] = (f"size(filter({toks_expr}, "
                         f"x -> array_contains({arr}, x)))")
        else:
            out[lang] = (f"len(list_filter({toks_expr}, "
                         f"x -> list_contains({arr}, x)))")
    return out


_MC_S = _marker_counts_sql(_TOKS_SPARK, "spark", "array(", ")")
_MC_D = _marker_counts_sql(_TOKS_DUCK, "duck", "[", "]")


def _langid_case(mc: dict[str, str]) -> str:
    return f"""
    CASE WHEN {mc['en']} + {mc['de']} + {mc['es']} + {mc['fr']} = 0
             THEN 'unknown'
         WHEN {mc['en']} >= greatest({mc['de']}, {mc['es']}, {mc['fr']})
             THEN 'en'
         WHEN {mc['de']} >= greatest({mc['es']}, {mc['fr']}) THEN 'de'
         WHEN {mc['es']} >= {mc['fr']} THEN 'es'
         ELSE 'fr' END
    """


@register(
    "text_langid_heuristic",
    oracle=f"""
    SELECT predicted_lang, lang AS labeled_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT doc_id, lang, {_langid_case(_MC_D)} AS predicted_lang
        FROM documents
    ) t
    GROUP BY predicted_lang, lang
    """,
    doc="marker-word language-ID heuristic + confusion counts vs label",
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang",
                    F.expr(_langid_case(_MC_S)).alias("predicted_lang"))
        .groupBy("predicted_lang", F.col("lang").alias("labeled_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_fingerprints",
    oracle=rf"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
           substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2)
               AS shard_key,
           list_aggregate(list_transform({_TOKS_DUCK}, s -> md5(s)), 'min')
               AS min_token_md5
    FROM documents
    """,
    doc="document fingerprinting: normalized-content digest + shard key + "
        "min-token digest (winnowing-style sketch component)",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = r"regexp_replace(lower(trim(text)), '\\s+', ' ')"
    return docs.select(
        "doc_id",
        F.expr(f"md5(CAST({norm} AS BINARY))").alias("fp_md5"),
        F.expr(f"substr(md5(CAST({norm} AS BINARY)), 1, 2)").alias("shard_key"),
        F.expr(f"array_min(transform({_TOKS_SPARK}, "
               "s -> md5(CAST(s AS BINARY))))").alias("min_token_md5"),
    )


@register(
    "text_length_histogram",
    oracle="""
    SELECT CAST(FLOOR(n_chars / 100.0) AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY CAST(FLOOR(n_chars / 100.0) AS INTEGER)
    """,
    doc="length distribution histogram (bucketed group-by)",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("bucket",
                        F.floor(F.col("n_chars") / 100.0).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
    )


@register(
    "text_token_topk",
    oracle=f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest({_TOKS_DUCK}) AS token FROM documents) t
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    doc="global token frequency top-k (explode + count — partial-agg "
        "map-side combine keeps the shuffle small)",
)
def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(_TOKS_SPARK)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# NOT a raw string: the SQL literal must carry exactly \\s so Spark's
# string unescape yields the regex \s (DuckDB does no SQL unescaping,
# so its pattern below carries a single backslash)
_BPE_PAT_SPARK = "'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]'"
_BPE_PAT_DUCK = r"'[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'"


@register(
    "text_bpe_token_estimate",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(text, {_BPE_PAT_DUCK})) AS INTEGER)
               AS n_bpe_tokens,
           CAST(len({_TOKS_DUCK}) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, {_BPE_PAT_DUCK})) AS DOUBLE)
               / CAST(len({_TOKS_DUCK}) AS DOUBLE) AS bpe_per_word
    FROM documents
    """,
    doc="BPE-ish token counting (brief): letter-runs / single digits / "
        "punctuation as separate tokens, vs the whitespace count — the "
        "pre-tokenizer split a byte-pair encoder sees",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = f"regexp_extract_all(text, {_BPE_PAT_SPARK}, 0)"
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size({bpe}) AS INT)").alias("n_bpe_tokens"),
        F.expr(f"CAST(size({_TOKS_SPARK}) AS INT)").alias("n_ws_tokens"),
        F.expr(f"""CAST(size({bpe}) AS DOUBLE)
                   / CAST(size({_TOKS_SPARK}) AS DOUBLE)""")
        .alias("bpe_per_word"),
    )


_EMAIL_RE_S = "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}'"
_EMAIL_RE_D = r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'"
_URL_RE = "'https?://[^ ]+'"
_LONGNUM_RE = "'[0-9]{6,}'"


@register(
    "text_pii_scan",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(text, {_EMAIL_RE_D})) AS INTEGER)
               AS n_emails,
           CAST(len(regexp_extract_all(text, {_URL_RE})) AS INTEGER)
               AS n_urls,
           CAST(len(regexp_extract_all(text, {_LONGNUM_RE})) AS INTEGER)
               AS n_long_numbers
    FROM documents
    WHERE len(regexp_extract_all(text, {_EMAIL_RE_D})) > 0
       OR len(regexp_extract_all(text, {_URL_RE})) > 0
       OR len(regexp_extract_all(text, {_LONGNUM_RE})) > 0
    """,
    doc="PII-pattern scan (emails/URLs/long digit runs) — the redaction "
        "pre-pass of a training-data pipeline; returns only flagged docs",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_em = f"size(regexp_extract_all(text, {_EMAIL_RE_S}, 0))"
    n_url = f"size(regexp_extract_all(text, {_URL_RE}, 0))"
    n_num = f"size(regexp_extract_all(text, {_LONGNUM_RE}, 0))"
    return (docs.select(
        "doc_id",
        F.expr(f"CAST({n_em} AS INT)").alias("n_emails"),
        F.expr(f"CAST({n_url} AS INT)").alias("n_urls"),
        F.expr(f"CAST({n_num} AS INT)").alias("n_long_numbers"))
        .where("n_emails > 0 OR n_urls > 0 OR n_long_numbers > 0"))


@register(
    "text_repetition_scores",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_DUCK}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(MAX(c) AS INTEGER) AS top_token_count,
           CAST(SUM(c) AS INTEGER) AS n_tokens,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS repetition_ratio
    FROM tf GROUP BY doc_id
    """,
    doc="repetition scoring: top-token frequency ratio per doc "
        "(explode -> per-doc term frequency -> max/sum; boilerplate and "
        "degenerate-repetition filter)",
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.expr(_TOKS_SPARK)).alias("token"))
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c")))
    return (tf.groupBy("doc_id")
            .agg(F.max("c").cast("int").alias("top_token_count"),
                 F.sum("c").cast("int").alias("n_tokens"),
                 (F.max("c").cast("double") / F.sum("c").cast("double"))
                 .alias("repetition_ratio")))


_WINNOW_K = 8   # character k-gram width
_WINNOW_W = 16  # window of consecutive gram hashes per fingerprint

_NORM_SPARK = r"regexp_replace(lower(trim(text)), '\\s+', ' ')"
_NORM_DUCK = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


# shared winnowing CTE: (doc_id, fp) rows, reused by the pairs oracle.
# Gram hashes are 60-bit BIGINTs (md5 hex prefix — the engine-portable
# form of operators/dedup.py:token_hashes60) so the window-min, the
# distinct, and the match join all compare integers, not 32-char hex
# strings; DuckDB computes the identical value via the '0x' hex cast.
_WINNOW_DUCK_CTE = f"""
    g AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(length({_NORM_DUCK})
                                     - {_WINNOW_K} + 1, 1) + 1),
                   i -> CAST('0x' || substr(
                            md5(substr({_NORM_DUCK}, CAST(i AS INTEGER),
                                       {_WINNOW_K})), 1, 15)
                        AS BIGINT)) AS grams
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   range(1, greatest(len(grams) - {_WINNOW_W} + 1, 1) + 1),
                   j -> list_aggregate(
                            grams[CAST(j AS INTEGER):
                                  CAST(j + {_WINNOW_W} - 1 AS INTEGER)],
                            'min')))) AS fps
        FROM g
    ),
    wfp AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(fps) AS fp
        FROM m
    )
"""


@register(
    "text_winnowing_fingerprints",
    bench=True,  # heaviest registry entries belong in the headline set
    # hashes are 60-bit BIGINTs (md5 hex prefix, same portable trick as
    # the dedup family): winnowing only needs a total order over the
    # gram hashes, and integer compares make the ~w-per-position running
    # min, the distinct, and the downstream match join far cheaper than
    # 32-char string compares (round-4 verdict item 2)
    oracle=f"""
    WITH {_WINNOW_DUCK_CTE}
    SELECT doc_id, fp FROM wfp
    """,
    doc="winnowing document fingerprints (Schleimer et al. SIGMOD'03): "
        "md5 over sliding character 8-grams, local minimum per "
        "16-hash window, deduped — the guarantee-bearing substring "
        "fingerprint for contamination/plagiarism scans; all JVM HOFs, "
        "embarrassingly parallel, output ~2/(w+1) of gram count",
)
def text_winnowing_fingerprints(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    return winnow_fps_frame(load_table(spark, sf_dir, "documents"))


def winnow_fps_frame(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints of an arbitrary (doc_id, text) frame —
    the transform behind text_winnowing_fingerprints, reusable for
    corpus subsets (the incremental contamination scan fingerprints
    the base corpus and the arriving batch separately)."""
    # Three formulation rules learned the hard way:
    #  * the norm -> grams stages sit behind a repartition barrier, or
    #    CollapseProject inlines the regexp into every gram lambda
    #    (O(len^2) regexes per doc);
    #  * the per-window minimum is a posexplode + running SQL window
    #    min (codegen, one shuffle on doc_id), NOT a nested
    #    transform/slice/array_min lambda — interpreted nested-HOF
    #    array ops measured ~80x slower on the same data;
    #  * the explode must be posexplode_OUTER and ng must derive from
    #    length(norm), NOT size(gs): a plain posexplode triggers
    #    InferFiltersFromGenerate, whose `size(gs) > 0` filter gets
    #    pushed below the repartition barrier WITH the whole gram
    #    transform (and its regexp) inlined — re-evaluated per row at
    #    the scan, O(len^2) per doc again through the back door
    #    (measured 16x: 15.6s -> 0.94s at sf0.1, identical output;
    #    outer vs inner is a no-op here because `greatest(.., 1)`
    #    guarantees a non-empty gram array).
    from pyspark.sql import Window

    n = docs.sparkSession.sparkContext.defaultParallelism
    # only the (cheap) substring slicing runs inside the lambda; md5
    # runs as a codegen projection over the exploded rows (~15% faster
    # than md5-in-lambda at sf0.1, identical output)
    subs = (f"transform(sequence(1, greatest(length(norm)"
            f" - {_WINNOW_K} + 1, 1)), "
            f"i -> substring(norm, i, {_WINNOW_K}))")
    # hash-repartition BY doc_id (round 14, guide §2.4): posexplode is
    # narrow, so every gram row of a doc stays in its doc's partition
    # — partitioning by doc_id up front satisfies the window's
    # required distribution AND the final distinct's (doc_id is a
    # prefix of its keys), removing BOTH downstream exchanges: the
    # whole corpus-chars gram stream (~25M rows at sf0.1) never rides
    # a shuffle. The repartition stays a materialization barrier (it
    # is still an Exchange), so the CollapseProject rule below cannot
    # inline the regexp either. 1.42 s -> 0.99 s at sf0.1, 3
    # exchanges -> 1.
    posed = (docs
             .select("doc_id", F.expr(_NORM_SPARK).alias("norm"))
             .repartition(n, "doc_id")
             .withColumn("ng", F.expr(f"greatest(length(norm)"
                                      f" - {_WINNOW_K} + 1, 1)"))
             .withColumn("gs", F.expr(subs))
             .select("doc_id", "ng",
                     F.posexplode_outer("gs").alias("pos", "g"))
             # codegen projection over exploded rows (not in the
             # lambda); 60-bit BIGINT = integer window-min downstream
             .withColumn(
                 "h",
                 F.expr("CAST(conv(substr(md5(CAST(g AS BINARY)), 1, 15),"
                        " 16, 10) AS BIGINT)"))
             .drop("g"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(0, _WINNOW_W - 1))
    return (posed
            .withColumn("wm", F.min("h").over(w))
            # full windows only; a doc shorter than one window emits
            # the min over everything it has (same as slice's cap)
            .where((F.col("pos") <= F.col("ng") - _WINNOW_W)
                   | ((F.col("ng") < _WINNOW_W) & (F.col("pos") == 0)))
            .select("doc_id", F.col("wm").alias("fp"))
            .distinct())


_FP_BUCKET_CAP = 64   # same flood discipline as the LSH dedup family
_MIN_SHARED = 5       # pairs must share >= this many fingerprints

# Durable memo for the winnowing fingerprint index — the match and
# similarity reports consume the SAME (doc_id, fp) table, and a
# production contamination scan materializes the fingerprint index
# once (text_winnowing_fingerprints IS that build job; it keeps the
# raw pipeline). Keyed like the pair-graph memo: app/sf_dir/warehouse/
# source fingerprint, so corpus changes miss; with
# $SPARK_GRAFT_MEMO_DIR set the index persists as a snapshot table.


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.sources.memo import durable_memo

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build() -> dict:
        return {"fps": text_winnowing_fingerprints(
            spark, sf_dir).localCheckpoint()}

    return durable_memo("winnowing_index", spark, sf_dir, docs,
                        build)["fps"]


@register(
    "text_winnowing_match_pairs",
    bench=True,
    oracle=f"""
    WITH {_WINNOW_DUCK_CTE},
    capped AS (
        SELECT doc_id, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM wfp
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM capped a JOIN capped b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE a.rn <= {_FP_BUCKET_CAP} AND b.rn <= {_FP_BUCKET_CAP}
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_MIN_SHARED}
    """,
    doc="the winnowing MATCH step (plagiarism/contamination pairs): "
        "documents sharing >= 5 fingerprints, candidates only from "
        "fingerprint-bucket collisions with the same id-ordered "
        "per-bucket cap as the LSH dedup family — boilerplate "
        "fingerprints shared by everything cannot explode the join",
)
def text_winnowing_match_pairs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    # pair generation is a bucket explode (the LSH family's shape), not
    # a self-join: a join would recompute the whole fingerprint
    # pipeline for BOTH sides (measured 2x); here fingerprints are
    # computed once, capped per bucket map-side (WindowGroupLimit), and
    # pairs explode within <= cap-sized buckets only
    from pyspark.sql import Window

    fps = _winnow_fps(spark, sf_dir)
    wcap = Window.partitionBy("fp").orderBy("doc_id")
    capped = (fps.withColumn("rn", F.row_number().over(wcap))
              .where(F.col("rn") <= _FP_BUCKET_CAP)
              .select("doc_id", "fp"))
    # the bucket table is tiny in ROWS (one per colliding fingerprint)
    # but each row explodes into up to cap^2/2 pairs — AQE's coalescer
    # sees only the pre-explode bytes and packs it into ONE task,
    # serializing pair generation (measured 2.5s -> 0.6s at sf0.1).
    # Spread buckets across the executors before the explode.
    n = spark.sparkContext.defaultParallelism
    buckets = (capped.groupBy("fp")
               .agg(F.collect_list("doc_id").alias("members"))
               .where(F.size("members") > 1)
               .repartition(n))
    pairs = buckets.select(F.explode(F.expr("""
        flatten(transform(members, (x, i) ->
            transform(slice(members, i + 2, size(members)), y ->
                struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))
    """)).alias("p"))
    return (pairs.groupBy("p.id_a", "p.id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= _MIN_SHARED))


@register(
    "text_winnowing_similarity",
    oracle=f"""
    WITH {_WINNOW_DUCK_CTE},
    counts AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
        FROM wfp GROUP BY doc_id
    ),
    capped AS (
        SELECT doc_id, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM wfp
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM capped a JOIN capped b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.rn <= {_FP_BUCKET_CAP} AND b.rn <= {_FP_BUCKET_CAP}
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {_MIN_SHARED}
    )
    SELECT p.id_a, p.id_b, p.n_shared,
           CAST(p.n_shared AS DOUBLE)
               / CAST(least(ca.n_fp, cb.n_fp) AS DOUBLE) AS similarity
    FROM pairs p
    JOIN counts ca ON ca.doc_id = p.id_a
    JOIN counts cb ON cb.doc_id = p.id_b
    """,
    doc="winnowing match SCORE: shared fingerprints normalized by the "
        "smaller document's fingerprint count — the plagiarism "
        "percentage the SIGMOD'03 guarantee supports; one extra join "
        "of the match pairs against per-doc fingerprint counts",
)
def text_winnowing_similarity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    fps = _winnow_fps(spark, sf_dir)
    counts = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    pairs = text_winnowing_match_pairs(spark, sf_dir)
    return (pairs
            .join(counts.select(F.col("doc_id").alias("id_a"),
                                F.col("n_fp").alias("n_fp_a")), "id_a")
            .join(counts.select(F.col("doc_id").alias("id_b"),
                                F.col("n_fp").alias("n_fp_b")), "id_b")
            .select("id_a", "id_b",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    (F.col("n_shared").cast("double")
                     / F.least("n_fp_a", "n_fp_b").cast("double"))
                    .alias("similarity")))


@register(
    "text_pii_redact",
    oracle=f"""
    WITH red AS (
        SELECT doc_id, source, text,
               regexp_replace(regexp_replace(regexp_replace(text,
                   {_EMAIL_RE_D}, '<EMAIL>', 'g'),
                   {_URL_RE}, '<URL>', 'g'),
                   {_LONGNUM_RE}, '<NUM>', 'g') AS redacted
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN redacted != text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_redacted_docs,
           CAST(SUM(CAST(length(text) AS BIGINT)
                    - CAST(length(redacted) AS BIGINT))
                AS BIGINT) AS chars_removed,
           md5(string_agg(md5(redacted), '' ORDER BY doc_id))
               AS redacted_digest
    FROM red GROUP BY source
    """,
    doc="PII redaction APPLY step (the scan's sibling): emails/URLs/"
        "long digit runs replaced with typed placeholder tokens in one "
        "JVM regexp_replace chain — map-only, no shuffle before the "
        "per-source rollup; the per-source content digest (md5 chain "
        "over ordered per-doc md5s) proves byte-identical redaction "
        "across engines without hashing megabytes of text rows",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    red = docs.select(
        "doc_id", "source", "text",
        F.expr(f"regexp_replace(regexp_replace(regexp_replace(text,"
               f" {_EMAIL_RE_S}, '<EMAIL>'),"
               f" {_URL_RE}, '<URL>'),"
               f" {_LONGNUM_RE}, '<NUM>')").alias("redacted"))
    return (red.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(F.col("redacted") != F.col("text"), 1)
                       .otherwise(0)).cast("bigint")
                 .alias("n_redacted_docs"),
                 F.sum(F.length("text").cast("bigint")
                       - F.length("redacted").cast("bigint"))
                 .cast("bigint").alias("chars_removed"),
                 F.md5(F.concat_ws(
                     "", F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("doc_id",
                                      F.md5(F.col("redacted").cast("binary"))
                                      .alias("h")))),
                         lambda s: s["h"])).cast("binary"))
                 .alias("redacted_digest")))


@register(
    "text_contamination_incremental",
    oracle=f"""
    WITH {_WINNOW_DUCK_CTE},
    cut AS (
        SELECT CAST(floor(MAX(doc_id) * 0.6) AS BIGINT) AS c
        FROM documents
    ),
    base AS (
        SELECT w.doc_id, w.fp,
               ROW_NUMBER() OVER (PARTITION BY w.fp
                                  ORDER BY w.doc_id) AS rn
        FROM wfp w, cut WHERE w.doc_id <= cut.c
    ),
    batch AS (
        SELECT w.doc_id, w.fp,
               ROW_NUMBER() OVER (PARTITION BY w.fp
                                  ORDER BY w.doc_id) AS rn
        FROM wfp w, cut WHERE w.doc_id > cut.c
    )
    SELECT q.doc_id AS id_batch, b.doc_id AS id_base,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM batch q JOIN base b ON q.fp = b.fp
    WHERE q.rn <= {_FP_BUCKET_CAP} AND b.rn <= {_FP_BUCKET_CAP}
    GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SHARED}
    """,
    doc="incremental contamination scan: arrivals (doc_id above the "
        "60%-of-max cut — the same harness convention as "
        "dedup_incremental_pairs) fingerprinted and matched against "
        "the BASE corpus's winnowing fingerprint store only — base "
        "text is never re-read, per-batch work is O(batch + "
        "collisions); both posting sides carry the id-ordered "
        f"per-fingerprint cap {_FP_BUCKET_CAP} so boilerplate "
        "fingerprints cannot explode the join. At scale the base side "
        "is the persisted fingerprint table (DEPLOY_100TB.md) — the "
        "decontaminate-at-ingest gate of a training pipeline",
)
def text_contamination_incremental(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.agg(F.floor(F.max("doc_id") * 0.6).cast("bigint")
                   ).first()[0]
    if cut is None:
        return local_frame(
            spark, [], "id_batch bigint, id_base bigint, n_shared bigint")
    # at scale: the base fps are the persisted index (one-time build);
    # here both sides derive from the memoized whole-corpus index —
    # fingerprints are per-document, so subsetting commutes
    fps = _winnow_fps(spark, sf_dir)
    wcap = Window.partitionBy("fp").orderBy("doc_id")

    def capped(side: DataFrame) -> DataFrame:
        return (side.withColumn("rn", F.row_number().over(wcap))
                .where(F.col("rn") <= _FP_BUCKET_CAP).drop("rn"))

    base = capped(fps.where(F.col("doc_id") <= cut))
    batch = capped(fps.where(F.col("doc_id") > cut))
    return (batch.select(F.col("doc_id").alias("id_batch"), "fp")
            .join(base.select(F.col("doc_id").alias("id_base"), "fp"),
                  "fp")
            .groupBy("id_batch", "id_base")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .where(F.col("n_shared") >= _MIN_SHARED))


# ---------------------------------------------------------------------------
# Tokenizer fertility report: the corpus-level readout of the per-doc
# BPE estimate above — tokens-per-word ("fertility") and chars-per-
# token by (source, lang). Fertility is THE number that says how far
# a tokenizer inflates a corpus's token bill (and which languages it
# penalizes); ratios are floor-quantized integer ppm over BIGINT sums
# so the report hashes identically across engines. One map-only scan
# + a bounded (source, lang) groupBy.
# ---------------------------------------------------------------------------


@register(
    "mlprep_tokenizer_fertility_report",
    oracle=f"""
    WITH per AS (
        SELECT source, lang,
               CAST(len(regexp_extract_all(text, {_BPE_PAT_DUCK}))
                    AS BIGINT) AS n_bpe,
               CAST(len({_TOKS_DUCK}) AS BIGINT) AS n_ws,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bpe) * 1000000 // SUM(n_ws) AS BIGINT)
               AS fertility_ppm,
           CAST(SUM(n_chars) * 1000000 // SUM(n_bpe) AS BIGINT)
               AS chars_per_token_ppm
    FROM per GROUP BY source, lang
    """,
    doc="tokenizer fertility by (source, lang): BPE-ish tokens per "
        "whitespace word and chars per BPE token, floor-quantized to "
        "integer ppm over exact BIGINT sums — the corpus token-bill "
        "inflation report that decides tokenizer/vocab fit per "
        "language; map-only scan, bounded groupBy",
)
def mlprep_tokenizer_fertility_report(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = f"regexp_extract_all(text, {_BPE_PAT_SPARK}, 0)"
    per = docs.select(
        "source", "lang",
        F.expr(f"CAST(size({bpe}) AS BIGINT)").alias("n_bpe"),
        F.expr(f"CAST(size({_TOKS_SPARK}) AS BIGINT)").alias("n_ws"),
        F.length("text").cast("bigint").alias("nc"))
    return (per.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_ws").cast("bigint").alias("n_ws_tokens"),
                 F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
                 F.sum("nc").cast("bigint").alias("n_chars"))
            .select("source", "lang", "n_docs", "n_ws_tokens",
                    "n_bpe_tokens", "n_chars",
                    F.expr("n_bpe_tokens * 1000000 div n_ws_tokens")
                    .cast("bigint").alias("fertility_ppm"),
                    F.expr("n_chars * 1000000 div n_bpe_tokens")
                    .cast("bigint").alias("chars_per_token_ppm")))


def warm_text_memos(spark: SparkSession, sf_dir: str) -> None:
    """Build the winnowing fingerprint index inside the registry-level
    ingest warm-up so `memo_build_sec` covers it (r14 verdict #2)."""
    _winnow_fps(spark, sf_dir)
