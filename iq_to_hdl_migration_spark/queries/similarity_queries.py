"""Registered similarity-search queries over `embeddings`.

Everything LSH-shaped is hash-checked against DuckDB: the oracles
re-implement the same sequential-fold double math via list_dot_product
over DOUBLE[] casts and the same literal plane constants, so codes,
cosines and rank orders are bit-identical across engines. The k-means
paths (IVF, SemDeDup, PQ) train in integer fixed point, so their
unrolled Lloyd chains hash-check too: every query here has an oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.operators import similarity as sim
from iq_to_hdl_migration_spark.queries import REGISTRY, register
from iq_to_hdl_migration_spark.sources.tables import load_table

_N_QUERIES = 5  # vec_id < 5 are the probe vectors


def _codes_cte(source: str = "embeddings") -> str:
    """DuckDB CTE fragment: per-(vec_id, table_idx) LSH bucket code —
    the exact twin of operators.similarity.with_table_codes (same plane
    constants, same sign rule, same bit packing). Validated bit-for-bit
    by the sim_lsh_bucket_stats hash match."""
    return f"""
    planes AS (
        SELECT unnest(range(0, {sim.N_PLANES})) AS plane_id,
               unnest({sim.duckdb_planes_list()}) AS plane
    ),
    codes AS (
        SELECT e.vec_id,
               CAST(p.plane_id // {sim.BITS_PER_TABLE} AS INTEGER) AS table_idx,
               CAST(SUM(CASE WHEN list_dot_product(p.plane,
                                                   e.embedding::DOUBLE[]) >= 0.0
                             THEN 1 << (p.plane_id % {sim.BITS_PER_TABLE})
                             ELSE 0 END) AS INTEGER) AS code
        FROM {source} e CROSS JOIN planes p
        GROUP BY e.vec_id, p.plane_id // {sim.BITS_PER_TABLE}
    ),
    v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM {source}
    )
    """


def _lsh_topk_oracle(qcodes: str) -> str:
    """Bucket-collision candidates -> exact cosine -> top-5, where
    `qcodes` is a CTE name providing the (possibly probe-expanded)
    query-side (vec_id, table_idx, code) rows."""
    return f"""
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM {qcodes} q JOIN codes c
          ON q.table_idx = c.table_idx AND q.code = c.code
        WHERE q.vec_id != c.vec_id
    ),
    {_rerank_oracle("cand", "v")}"""


def _rerank_oracle(cand: str, vecs: str) -> str:
    """The exact re-rank tail: the `cand` CTE's (query_id, cand_id)
    pairs scored by float cosine over the `vecs` CTE's (vec_id, vec,
    norm) rows, then top-5 by (cosine DESC, cand_id) — the
    sim_bruteforce_topk score restricted to an index's candidates."""
    return f"""
    scored AS (
        SELECT c.query_id, c.cand_id,
               list_dot_product(qv.vec, cv.vec) / (qv.norm * cv.norm) AS cosine
        FROM {cand} c
        JOIN {vecs} qv ON qv.vec_id = c.query_id
        JOIN {vecs} cv ON cv.vec_id = c.cand_id
    )
    SELECT query_id, cand_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT query_id, cand_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rnk
        FROM scored
    ) t
    WHERE rnk <= 5
    """


@register(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               list_dot_product(q.vec, c.vec) / (q.norm * c.norm) AS cosine
        FROM v q JOIN v c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, cand_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT query_id, cand_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rnk
        FROM scored
    ) t
    WHERE rnk <= 5
    """,
    doc="exact cosine top-5 per probe vector (broadcast queries, "
        "single corpus scan — the ANN baseline)",
    bench=True,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return sim.brute_force_topk(emb, queries, k=5)


@register(
    "sim_lsh_bucket_stats",
    oracle=f"""
    WITH planes AS (
        SELECT unnest(range(0, {sim.N_PLANES})) AS plane_id,
               unnest({sim.duckdb_planes_list()}) AS plane
    ),
    codes AS (
        SELECT e.vec_id,
               CAST(p.plane_id // {sim.BITS_PER_TABLE} AS INTEGER) AS table_idx,
               CAST(SUM(CASE WHEN list_dot_product(p.plane,
                                                   e.embedding::DOUBLE[]) >= 0.0
                             THEN 1 << (p.plane_id % {sim.BITS_PER_TABLE})
                             ELSE 0 END) AS INTEGER) AS code
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, p.plane_id // {sim.BITS_PER_TABLE}
    )
    SELECT table_idx, code, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM codes GROUP BY table_idx, code
    """,
    doc="random-hyperplane LSH bucket histogram per hash table — "
        "validates the ANN partitioning transform end-to-end",
)
def sim_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (sim.exploded_buckets(
                emb.select("vec_id", F.col("embedding").alias("cemb")), "cemb")
            .groupBy("table_idx", "code")
            .agg(F.count(F.lit(1)).alias("n_vecs")))


@register(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH {_codes_cte()},
    qcodes AS (
        SELECT vec_id, table_idx, code FROM codes
        WHERE vec_id < {_N_QUERIES}
    ),
    {_lsh_topk_oracle("qcodes")}
    """,
    doc="LSH-bucketed approximate top-k: probe one bucket (1/2^16 of "
        "the corpus at scale) instead of scanning",
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return sim.ann_lsh_topk(emb, queries, k=5)


@register(
    "sim_ann_multiprobe_topk",
    oracle=f"""
    WITH {_codes_cte()},
    qcodes AS (
        SELECT vec_id, table_idx, code FROM codes
        WHERE vec_id < {_N_QUERIES}
        UNION
        SELECT vec_id, table_idx,
               xor(code, CAST(1 << f AS INTEGER)) AS code
        FROM codes, (SELECT unnest(range(0, {sim.BITS_PER_TABLE})) AS f)
        WHERE vec_id < {_N_QUERIES}
    ),
    {_lsh_topk_oracle("qcodes")}
    """,
    doc="multi-probe LSH top-k (each query also probes all Hamming-1 "
        "neighbor buckets per table): ~12x the recall of single-probe "
        "on the structureless random corpus (3% -> 38%) for 9x the "
        "probed buckets, still a broadcast equi-join on codes",
)
def sim_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return sim.ann_lsh_topk(emb, queries, k=5, n_flip=1)


@register(
    "sim_ann_multiprobe2_topk",
    oracle=f"""
    WITH {_codes_cte()},
    qcodes AS (
        SELECT vec_id, table_idx, code FROM codes
        WHERE vec_id < {_N_QUERIES}
        UNION
        SELECT vec_id, table_idx,
               xor(code, CAST(1 << f AS INTEGER)) AS code
        FROM codes, (SELECT unnest(range(0, {sim.BITS_PER_TABLE})) AS f)
        WHERE vec_id < {_N_QUERIES}
        UNION
        SELECT vec_id, table_idx,
               xor(xor(code, CAST(1 << f AS INTEGER)),
                   CAST(1 << g AS INTEGER)) AS code
        FROM codes,
             (SELECT f, g
              FROM (SELECT unnest(range(0, {sim.BITS_PER_TABLE})) AS f),
                   (SELECT unnest(range(0, {sim.BITS_PER_TABLE})) AS g)
              WHERE f < g)
        WHERE vec_id < {_N_QUERIES}
    ),
    {_lsh_topk_oracle("qcodes")}
    """,
    doc="Hamming-2 multi-probe LSH top-k: probes the query bucket, all "
        "single-bit and all two-bit flip neighbors per table "
        "(1 + bits + C(bits,2) probes). On the structureless random "
        "corpus this lifts recall@5 to ~76% (vs 44% Hamming-1, 4% "
        "single-probe) — past the usable-retrieval bar — while staying "
        "a probe-side-only expansion: the corpus layout and the "
        "broadcast equi-join on (table_idx, code) are unchanged.",
)
def sim_ann_multiprobe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return sim.ann_lsh_topk(emb, queries, k=5, n_flip=2)


@register(
    "dedup_embedding_cosine_pairs",
    # The oracle retraces the whole flood-safe pipeline: bit-identical
    # vectors collapse to their min-id representative (links emitted at
    # cosine 1.0), representatives get the same LSH codes, each
    # (table, code) bucket is truncated to the same id-ordered cap, and
    # only in-bucket pairs are cosine-verified.
    oracle=f"""
    WITH v0 AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS dvec FROM embeddings
    ),
    tagged AS (
        SELECT id, dvec, MIN(id) OVER (PARTITION BY dvec) AS keep FROM v0
    ),
    repsrc AS (
        SELECT id AS vec_id, dvec AS embedding FROM tagged WHERE id = keep
    ),
    {_codes_cte("repsrc")},
    capped AS (
        SELECT vec_id, table_idx, code,
               ROW_NUMBER() OVER (PARTITION BY table_idx, code
                                  ORDER BY vec_id) AS rn
        FROM codes
    ),
    pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM capped a JOIN capped b
          ON a.table_idx = b.table_idx AND a.code = b.code
         AND a.vec_id < b.vec_id
        WHERE a.rn <= {sim.BUCKET_CAP} AND b.rn <= {sim.BUCKET_CAP}
    ),
    scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(va.vec, vb.vec) / (va.norm * vb.norm)
                   AS cosine
        FROM pairs p
        JOIN v va ON va.vec_id = p.id_a
        JOIN v vb ON vb.vec_id = p.id_b
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
    UNION ALL
    SELECT keep AS id_a, id AS id_b, CAST(1.0 AS DOUBLE) AS cosine
    FROM tagged WHERE id != keep
    """,
    doc="embedding-cosine near-dup pairs: LSH bucket candidates + "
        "exact cosine >= 0.9 verify (brief: vector-space dedup; "
        "never all-pairs)",
)
def dedup_embedding_cosine_pairs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(emb, min_cosine=0.9)


@register(
    "sim_embedding_stats",
    oracle="""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1e10)
                         AS BIGINT)) AS DOUBLE) / 1e10
               / CAST(COUNT(*) AS DOUBLE) AS avg_first,
           CAST(MIN(embedding[1]) AS DOUBLE) AS min_first,
           CAST(MAX(embedding[1]) AS DOUBLE) AS max_first
    FROM embeddings
    GROUP BY label
    """,
    doc="per-label embedding stats; the mean goes through 1e-10-floor-"
        "quantized BIGINT sums (float->DECIMAL casts round differently "
        "per engine — the r7 bit-exact audit caught it; float->DOUBLE "
        "widening + floor is exact everywhere) with one double "
        "division chain at the end",
)
def sim_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    first = F.element_at("embedding", 1)
    q = F.floor(first.cast("double") * F.lit(1e10)).cast("bigint")
    return (emb.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 (F.sum(q).cast("double") / F.lit(1e10)
                  / F.count(F.lit(1)).cast("double")).alias("avg_first"),
                 F.min(first).cast("double").alias("min_first"),
                 F.max(first).cast("double").alias("max_first")))


@register(
    "sim_embedding_quantize_stats",
    # rounding is floor(x/scale + 0.5) in BOTH engines (identical
    # double ops; no half-even ambiguity), and the reconstruction MSE
    # reuses the list_dot_product == ordered-fold machinery already
    # proven bit-identical by the LSH oracles. The avg is summed as
    # DECIMAL after scaling by 2^80 — a power-of-two shift is exact in
    # binary, so the double -> decimal cast loses nothing and both
    # engines see identical integers. Each per-vector MSE is snapped
    # to integer 2^-60 units with the same explicit floor(x + 0.5)
    # (Spark's bigint cast truncates, DuckDB's rounds; double->decimal
    # casts and >2^53 decimal->double casts both drift per engine —
    # each variant showed last-ulp drift under a hash compare). The
    # bigint sum stays under 2^53 for corpora up to ~10k vectors per
    # label at this MSE scale, so every later step is exact
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    s AS (
        SELECT vec_id, label, vec,
               greatest(list_aggregate(list_transform(vec, x -> abs(x)),
                                       'max') / 127.0, 1e-30) AS scale
        FROM v
    ),
    e AS (
        SELECT vec_id, label,
               list_transform(
                   list_zip(vec,
                            list_transform(vec, x ->
                                floor(x / scale + 0.5) * scale)),
                   p -> p[1] - p[2]) AS err
        FROM s
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(list_dot_product(err, err) / {sim.DIM}
                               * 1152921504606846976.0 + 0.5)
                    AS BIGINT)) AS DOUBLE)
               / 1152921504606846976.0
               / CAST(COUNT(*) AS DOUBLE) AS avg_mse,
           CAST(MAX(list_dot_product(err, err) / {sim.DIM}) AS DOUBLE)
               AS max_mse
    FROM e GROUP BY label
    """,
    doc="int8 symmetric quantization audit: per-vector scale = "
        "max|x|/127, reconstruction error folded to per-label "
        "avg/max MSE — the accept/reject report before switching a "
        "100 TB embedding store to 4x-smaller int8 (all JVM HOFs, "
        "one shuffle on label)",
)
def sim_embedding_quantize_stats(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dv = sim.as_double_array("embedding")
    d = (emb
         .withColumn("vec", F.expr(dv))
         .withColumn("scale", F.expr(
             "greatest(array_max(transform(vec, x -> abs(x))) / 127.0D, "
             "1e-30D)"))
         .withColumn("err", F.expr(
             "zip_with(vec, transform(vec, x -> "
             "floor(x / scale + 0.5D) * scale), (a, b) -> a - b)"))
         .withColumn("mse", sim.dot_expr("err", "err") / F.lit(sim.DIM)))
    p60 = F.lit(float(2 ** 60))
    return (d.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 (F.sum(F.floor(F.col("mse") * p60 + F.lit(0.5))
                        .cast("bigint"))
                  .cast("double") / p60
                  / F.count(F.lit(1)).cast("double")).alias("avg_mse"),
                 F.max("mse").cast("double").alias("max_mse")))


# ---------------------------------------------------------------------------
# label-centroid cosine matrix: the domain-similarity audit over an
# embedding store — which semantic classes are near-collinear (merge
# candidates / leakage risk between training domains) and which are
# orthogonal. Per-label mean vectors, then pairwise cosine between the
# k centroids.
#
# Cross-row float sums are order-dependent, so each component is
# floor-snapped to 2^-20 fixed point and summed EXACTLY as BIGINT (same
# trick as the quantization audit); the mean, the centroid components,
# and the per-row cosine fold are then single exactly-rounded double
# ops — bit-identical in both engines. k centroids is a tiny broadcast
# self-join; the only data-sized work is one scan + one (label, dim)
# shuffle of integer partial sums (mergeable, map-side combined).
# ---------------------------------------------------------------------------

@register(
    "sim_label_centroid_cosine",
    oracle=f"""
    WITH dims AS (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim),
    q AS (
        SELECT e.label, d.dim,
               CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE) * 1048576.0)
                    AS BIGINT) AS qv
        FROM embeddings e, dims d
    ),
    cent AS (
        SELECT label, dim,
               (CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   / 1048576.0 AS cv
        FROM q GROUP BY label, dim
    ),
    cvec AS (
        SELECT label, list(cv ORDER BY dim) AS vec FROM cent GROUP BY label
    ),
    n AS (
        SELECT label, vec, sqrt(list_dot_product(vec, vec)) AS norm
        FROM cvec
    )
    SELECT CAST(a.label AS INTEGER) AS label_a,
           CAST(b.label AS INTEGER) AS label_b,
           list_dot_product(a.vec, b.vec) / (a.norm * b.norm) AS cosine
    FROM n a JOIN n b ON a.label < b.label
    """,
    doc="pairwise cosine between per-label centroid embeddings — the "
        "inter-domain similarity matrix; fixed-point accumulation makes "
        "the centroids bit-exact across engines",
)
def sim_label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _fp_rows(load_table(spark, sf_dir, "embeddings"), "label")
    cent = (q.groupBy("label", "dim")
            .agg(((F.sum("qv").cast("double")
                   / F.count(F.lit(1)).cast("double"))
                  / F.lit(1048576.0)).alias("cv")))
    cvec = (cent.groupBy("label")
            .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv))),"
                        " s -> s.cv)").alias("vec")))
    n = cvec.select("label", "vec",
                    F.sqrt(sim.dot_expr("vec", "vec")).alias("norm"))
    a = n.select(F.col("label").alias("label_a"),
                 F.col("vec").alias("vec_a"), F.col("norm").alias("norm_a"))
    b = n.select(F.col("label").alias("label_b"),
                 F.col("vec").alias("vec_b"), F.col("norm").alias("norm_b"))
    return (a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
            .select("label_a", "label_b",
                    (sim.dot_expr("vec_a", "vec_b")
                     / (F.col("norm_a") * F.col("norm_b"))).alias("cosine")))


# ---------------------------------------------------------------------------
# int8-quantized retrieval: the OTHER half of the quantization audit.
# sim_embedding_quantize_stats reports reconstruction MSE; these two
# report what actually matters for serving — does top-k retrieval
# survive 4x-smaller vectors? Scales cancel inside cosine, so the
# quantized cosine is pure integer arithmetic (|q| <= 127, dim 64:
# every intermediate < 2^53, so even a double-fold sum is EXACT and
# engine-order-independent) with one final sqrt/divide — fully
# hash-checked, unlike sketch-style ANN.
# ---------------------------------------------------------------------------

_QUANT_CTE = f"""
    v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    s AS (
        SELECT vec_id, vec,
               greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0,
                        1e-30) AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id,
               list_transform(vec, x -> FLOOR(x / scale + 0.5)) AS qv
        FROM s
    ),
    qn AS (
        SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qnorm
        FROM q
    ),
    qscored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               list_dot_product(a.qv, b.qv) / (a.qnorm * b.qnorm)
                   AS cosine_q
        FROM qn a JOIN qn b ON a.vec_id != b.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    ),
    qtop AS (
        SELECT query_id, cand_id, cosine_q, CAST(rnk AS INTEGER) AS rnk
        FROM (
            SELECT query_id, cand_id, cosine_q,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine_q DESC, cand_id) AS rnk
            FROM qscored
        ) t WHERE rnk <= 5
    )
"""


def _quantized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized int8-quantized corpus representation (vec_id, qv,
    qnorm) — quantization is an INGEST step in production (the stored
    index format), not per-query work; three retrieval queries and the
    MMR rerank consume the same table. Durable: with
    $SPARK_GRAFT_MEMO_DIR set the quantized corpus persists as a
    fingerprint-guarded snapshot table."""
    from iq_to_hdl_migration_spark.sources.memo import durable_memo

    emb = load_table(spark, sf_dir, "embeddings")

    def build() -> dict:
        return {"q": (emb
                .withColumn("vec", F.expr(sim.as_double_array("embedding")))
                .withColumn("scale", F.expr(
                    "greatest(array_max(transform(vec, x -> abs(x)))"
                    " / 127.0D, 1e-30D)"))
                .withColumn("qv", F.expr(
                    "transform(vec, x -> floor(x / scale + 0.5D))"))
                .withColumn("qnorm", F.sqrt(sim.dot_expr("qv", "qv")))
                .select("vec_id", "qv", "qnorm")
                .localCheckpoint())}

    return durable_memo("quantized_corpus", spark, sf_dir, emb, build)["q"]


def _quantized_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _quantized_corpus(spark, sf_dir)
    probes = (d.where(F.col("vec_id") < _N_QUERIES)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("qv").alias("qv_q"),
                      F.col("qnorm").alias("qnorm_q")))
    return (d.join(F.broadcast(probes),
                   F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("cand_id"),
                    (sim.dot_expr("qv_q", "qv")
                     / (F.col("qnorm_q") * F.col("qnorm")))
                    .alias("cosine_q")))


@register(
    "sim_quantized_topk",
    oracle=f"""
    WITH {_QUANT_CTE}
    SELECT query_id, cand_id, cosine_q, rnk FROM qtop
    """,
    doc="exact cosine top-5 per probe over int8-quantized vectors "
        "(scales cancel: pure integer dot products, bit-exact in both "
        "engines) — the retrieval half of the quantization audit",
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _quantized_scored(spark, sf_dir)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_q"),
                                               F.asc("cand_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 5)
            .select("query_id", "cand_id", "cosine_q",
                    F.col("rnk").cast("int").alias("rnk")))


@register(
    "sim_quantized_recall",
    oracle=f"""
    WITH {_QUANT_CTE},
    fv AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    fscored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               list_dot_product(a.vec, b.vec) / (a.norm * b.norm) AS cosine
        FROM fv a JOIN fv b ON a.vec_id != b.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    ),
    ftop AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id) AS rnk
            FROM fscored
        ) t WHERE rnk <= 5
    )
    SELECT f.query_id,
           CAST(COUNT(q.cand_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(q.cand_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM ftop f
    LEFT JOIN qtop q
      ON q.query_id = f.query_id AND q.cand_id = f.cand_id
    GROUP BY f.query_id
    """,
    doc="per-probe recall@5 of int8-quantized retrieval vs exact float "
        "cosine — the accept/reject number for swapping the serving "
        "store to int8; bit-exact oracle on both rankings",
)
def sim_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = (sim.brute_force_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=5)
        .select("query_id", "cand_id"))
    quant = (sim_quantized_topk(spark, sf_dir)
             .select(F.col("query_id").alias("q_query"),
                     F.col("cand_id").alias("q_cand")))
    j = exact.join(
        quant, (F.col("query_id") == F.col("q_query"))
        & (F.col("cand_id") == F.col("q_cand")), "left")
    return (j.groupBy("query_id")
            .agg(F.count("q_cand").alias("n_overlap"),
                 (F.count("q_cand").cast("double") / F.lit(5.0))
                 .alias("recall_at_5")))


# ---------------------------------------------------------------------------
# Fixed-point IVF — the k-means ANN path made value-hash-checkable.
# Vectors are quantized once to integer units of 2^-20 (global scale,
# so L2 geometry is preserved across vectors); Lloyd iterations then
# run entirely in BIGINT: integer squared distances, argmin with a
# (distance, centroid_id) tie-break, centroid updates as
# floor(sum/count) (numerator < 2^53 so the double division is exact
# to the unit). Three unrolled iterations + the probe stage generate a
# MATERIALIZED DuckDB CTE chain — same technique as the fixed-point
# PageRank oracle. The trained index is stored once per corpus
# (`_kmeans_index`); sim_ivf_fixedpoint_topk re-ranks its probed
# candidates by integer distance, sim_ivf_topk by exact float cosine.
# ---------------------------------------------------------------------------

_IVF_K = 8          # clusters; seeds = vec_id 0..7 quantized
_IVF_ITERS = 3
_IVF_PROBE = 2
_IVF_SCALE = 1048576.0   # 2^20


def _fp_kmeans_ctes(k: int | str, iters: int, final_update: bool,
                    train_pred: str | None = None) -> str:
    """WITH-chain prefix shared by every fixed-point k-means oracle:
    2^-20-quantized vectors `v`, seed centroids `c0` (vec_id < k), and
    per-iteration dist{{i}}/a{{i}} (+ u{{i}}/c{{i}} centroid updates).
    `k` may be a SQL scalar-subquery string (SemDeDup derives k from
    the corpus size) — it is inlined verbatim into the seed predicate.
    `final_update=False` stops at the last assignment a{{iters}} —
    consumers that never probe updated centroids (SemDeDup) skip the
    dead u/c CTEs so DuckDB doesn't materialize them.
    `train_pred` restricts the TRAINING corpus (Lloyd iterations and
    seeds — the k lowest ids satisfying the predicate) while `v`
    still quantizes every vector, so later stages can probe held-out
    batches and queries; None keeps the historical all-corpus text."""
    tv = "v" if train_pred is None else "tv"
    parts = [f"""
    WITH v AS MATERIALIZED (
        SELECT e.vec_id, d.dim,
               CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE)
                          * {_IVF_SCALE!r}) AS BIGINT) AS qv
        FROM embeddings e, (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim) d
    )"""]
    if train_pred is None:
        parts.append(f"""
    c0 AS MATERIALIZED (
        SELECT vec_id AS cid, dim, qv AS cq FROM v WHERE vec_id < {k}
    )""")
    else:
        parts.append(f"""
    tv AS MATERIALIZED (
        SELECT * FROM v WHERE {train_pred}
    ),
    c0 AS MATERIALIZED (
        SELECT vec_id AS cid, dim, qv AS cq FROM tv
        WHERE vec_id IN (SELECT DISTINCT vec_id FROM tv
                         ORDER BY vec_id LIMIT {k})
    )""")
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    dist{i} AS MATERIALIZED (
        SELECT v.vec_id, c.cid,
               SUM((v.qv - c.cq) * (v.qv - c.cq)) AS d2
        FROM {tv} v JOIN c{p} c ON c.dim = v.dim
        GROUP BY v.vec_id, c.cid
    ),
    a{i} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM dist{i}) t WHERE rn = 1
    )""")
        if i < iters or final_update:
            parts.append(f"""
    u{i} AS MATERIALIZED (
        SELECT a.cid, v.dim,
               CAST(FLOOR(CAST(SUM(v.qv) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
        FROM a{i} a JOIN {tv} v ON v.vec_id = a.vec_id
        GROUP BY a.cid, v.dim
    ),
    c{i} AS MATERIALIZED (
        SELECT p.cid, p.dim, COALESCE(u.cq, p.cq) AS cq
        FROM c{p} p LEFT JOIN u{i} u
          ON u.cid = p.cid AND u.dim = p.dim
    )""")
    return ",".join(parts)


def _ivf_probe_ctes(probe: int) -> str:
    """WITH-chain prefix of every oracle that probes the trained `ivf`
    lists: the Lloyd chain, then qdist (each probe vector's integer
    distance to every final centroid), probes (its `probe` nearest
    lists by (d2, cid)) and cand (the members of those lists, the
    probe vector itself excluded)."""
    iters = _IVF_ITERS
    return _fp_kmeans_ctes(_IVF_K, iters, final_update=True) + f""",
    qdist AS MATERIALIZED (
        SELECT v.vec_id AS query_id, c.cid,
               SUM((v.qv - c.cq) * (v.qv - c.cq)) AS d2
        FROM v JOIN c{iters} c ON c.dim = v.dim
        WHERE v.vec_id < {_N_QUERIES}
        GROUP BY v.vec_id, c.cid
    ),
    probes AS MATERIALIZED (
        SELECT query_id, cid FROM (
            SELECT query_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, cid) AS rn
            FROM qdist) t WHERE rn <= {probe}
    ),
    cand AS MATERIALIZED (
        SELECT p.query_id, a.vec_id AS cand_id
        FROM probes p JOIN a{iters} a ON a.cid = p.cid
        WHERE a.vec_id != p.query_id
    )"""


def _ivf_fixedpoint_oracle() -> str:
    return _ivf_probe_ctes(_IVF_PROBE) + """,
    pair AS MATERIALIZED (
        SELECT c.query_id, c.cand_id,
               SUM((q.qv - x.qv) * (q.qv - x.qv)) AS qdist
        FROM cand c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v x ON x.vec_id = c.cand_id AND x.dim = q.dim
        GROUP BY c.query_id, c.cand_id
    )
    SELECT query_id, cand_id, CAST(qdist AS BIGINT) AS qdist,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT query_id, cand_id, qdist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qdist, cand_id) AS rnk
        FROM pair) t
    WHERE rnk <= 5
    """


def _ivf_topk_oracle() -> str:
    return _ivf_probe_ctes(_IVF_PROBE) + f""",
    fv AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    {_rerank_oracle("cand", "fv")}"""


def _fp_rows(emb: DataFrame, *carry) -> DataFrame:
    """The embeddings' per-dim fixed-point rows: the `carry` columns,
    then dim (1-based) and qv = floor(x * 2^20) — the Spark twin of
    the oracles' `v` CTE."""
    return (emb.select(*carry, F.posexplode(F.expr(sim.as_double_array(
                "embedding"))).alias("pos", "x"))
            .withColumns({"dim": F.col("pos") + 1,
                          "qv": F.floor(F.col("x") * F.lit(_IVF_SCALE))
                          .cast("bigint")})
            .drop("pos", "x"))


def _fp_table(emb: DataFrame) -> dict:
    """The embeddings corpus's one fixed-point table, built once per
    corpus: `v` is the per-dim row table (vec_id, dim, qv) every
    Lloyd config (`_kmeans_index`) trains on; `varr` holds the same
    integers as one row per vector (vec_id, qa DOUBLE[], qq2 = exact
    |q|²), the form exact re-rankers read so they never re-explode to
    per-dim rows (every value and every 64-term partial sum < 2^53, so
    double ops on them are exact in any order)."""
    from iq_to_hdl_migration_spark.sources.memo import durable_memo

    def build() -> dict:
        v = _fp_rows(emb, "vec_id").localCheckpoint()
        qa = (f"transform({sim.as_double_array('embedding')}, "
              f"x -> CAST(FLOOR(x * {_IVF_SCALE!r}) AS DOUBLE))")
        varr = (emb.select("vec_id", F.expr(qa).alias("qa"))
                .withColumn("qq2", sim.dot_expr("qa", "qa"))
                .localCheckpoint())
        return {"v": v, "varr": varr}

    return durable_memo("fixedpoint_table", emb.sparkSession, "", emb, build)


def _ivf_candidates(idx: dict, probe: int) -> DataFrame:
    """The Spark twin of _ivf_probe_ctes over a trained index slice
    (`_kmeans_index(emb, "ivf")`): (query_id, cand_id) for every
    member of each probe vector's `probe` nearest lists."""
    from pyspark.sql import Window

    v, cents, assign = idx["v"], idx["cents"], idx["assign"]
    qdist = (v.where(F.col("vec_id") < _N_QUERIES)
             .join(cents.hint("broadcast"), "dim")
             .groupBy(F.col("vec_id").alias("query_id"), F.col("cid"))
             .agg(F.sum((F.col("qv") - F.col("cq"))
                        * (F.col("qv") - F.col("cq"))).alias("d2")))
    wp = Window.partitionBy("query_id").orderBy("d2", "cid")
    probes = (qdist.withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= probe).select("query_id", "cid"))
    return (probes.join(assign.withColumnRenamed("vec_id", "cand_id"),
                        "cid")
            .where(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id"))


def _ivf_fp_topk(spark: SparkSession, sf_dir: str,
                 probe: int) -> DataFrame:
    """Integer-IVF retrieval with nprobe as an argument: the probed
    candidates re-ranked by exact integer squared distance, top 5.
    Every IVF query and the nprobe curve's legs serve from the same
    memoized trained index."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _kmeans_index(emb, "ivf")
    v = idx["v"]
    qv_q = v.select(F.col("vec_id").alias("query_id"), "dim",
                    F.col("qv").alias("qq"))
    qv_c = v.select(F.col("vec_id").alias("cand_id"), "dim",
                    F.col("qv").alias("qc"))
    pair = (_ivf_candidates(idx, probe)
            .join(qv_q.hint("broadcast"), "query_id")
            .join(qv_c, ["cand_id", "dim"])
            .groupBy("query_id", "cand_id")
            .agg(F.sum((F.col("qq") - F.col("qc"))
                       * (F.col("qq") - F.col("qc"))).alias("qdist")))
    wr = Window.partitionBy("query_id").orderBy("qdist", "cand_id")
    return (pair.withColumn("rnk", F.row_number().over(wr))
            .where(F.col("rnk") <= 5)
            .select("query_id", "cand_id",
                    F.col("qdist").cast("bigint").alias("qdist"),
                    F.col("rnk").cast("int").alias("rnk")))


@register(
    "sim_ivf_fixedpoint_topk",
    oracle=_ivf_fixedpoint_oracle(),
    doc="IVF ANN with INTEGER k-means (2^-20 quantized vectors, "
        "BIGINT distances, floor-mean centroid updates, deterministic "
        "tie-breaks): 3 Lloyd iterations + 2-probe top-5, value-hash-"
        "checked against an unrolled MATERIALIZED DuckDB CTE chain",
)
def sim_ivf_fixedpoint_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_fp_topk(spark, sf_dir, _IVF_PROBE)


@register(
    "sim_ivf_topk",
    oracle=_ivf_topk_oracle(),
    doc="IVF ANN: probes the 2 nearest of the stored integer k-means "
        "index's 8 lists (the `ivf` config sim_ivf_fixedpoint_topk "
        "probes) and re-ranks the probed candidates by the exact float "
        "cosine of sim_bruteforce_topk — each query touches ~1/4 of the "
        "corpus (brief: IVF variant). Its rows changed when the former "
        "float k-means(16) index went (new candidate lists; recall@5 "
        "0.88 / 0.92 at sf0.001 / sf0.01, was 0.84 / 0.80)",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cands = _ivf_candidates(_kmeans_index(emb, "ivf"), _IVF_PROBE)
    return sim.rerank_topk(emb, emb.where(F.col("vec_id") < _N_QUERIES),
                           cands, k=5)


# ---------------------------------------------------------------------------
# fully hash-checked ANN recall dashboards: every method in the
# comparison (bucket LSH, multi-probe, integer IVF, the IVF re-rank)
# has a value-exact oracle, so a recall dashboard is itself an
# oracled row set — each method's top-5 is recomputed as a subquery of
# the SAME oracle SQL registered for that method and left-joined to
# the exact float top-5. Integer hit counts -> one division.
# ---------------------------------------------------------------------------

def _leg_recall_oracle(select: str, leg_sql: str) -> str:
    """One leg of a recall dashboard's oracle: `select` over the exact
    top-5 (f) left-joined to the leg's top-5 (q). Reads REGISTRY
    directly (load_all() would re-enter this module's import); every
    leg is registered earlier in this module."""
    return f"""
        SELECT {select}
        FROM ({REGISTRY["sim_bruteforce_topk"].oracle}) f
        LEFT JOIN ({leg_sql}) q
          ON q.query_id = f.query_id AND q.cand_id = f.cand_id"""


def _leg_hits(exact: DataFrame, leg: DataFrame) -> DataFrame:
    """The Spark twin of _leg_recall_oracle's join: one row of n_hits
    (exact pairs the leg found), n_exact (exact pairs) and n_queries."""
    q = leg.select(F.col("query_id").alias("qq"),
                   F.col("cand_id").alias("qc"))
    return (exact.join(q, (F.col("query_id") == F.col("qq"))
                       & (F.col("cand_id") == F.col("qc")), "left")
            .agg(F.count("qc").cast("bigint").alias("n_hits"),
                 F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                 F.countDistinct("query_id").cast("bigint")
                 .alias("n_queries")))


def _recall_matrix_oracle() -> str:
    return " UNION ALL ".join(_leg_recall_oracle(f"""
               '{m}' AS method, '{role}' AS role,
               CAST(COUNT(q.cand_id) AS BIGINT) AS n_hits,
               CAST(COUNT(q.cand_id) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS recall_at_5""", sql)
        for m, sql, role in _RECALL_LEGS())


def _RECALL_LEGS():
    """(method, oracle_sql, role) per ANN leg. `role` is the honest
    guidance column: legs whose recall@5 on the structureless random
    corpus sits below a usable-retrieval bar (~70%) are labeled
    candidate_generation — use them to feed an exact re-ranker, not as
    the final answer; retrieval legs stand on their own.

    Tolerant of not-yet-registered legs (pq_adc / ivf_incremental are
    defined AFTER the matrix in this module): the matrix oracle is
    rebuilt with the full leg set at module end."""
    from iq_to_hdl_migration_spark.queries import REGISTRY
    legs = _raw_recall_legs()
    return [(m, REGISTRY[n].oracle, role) for m, n, role in legs
            if n in REGISTRY]


def _raw_recall_legs():
    return [
        ("lsh", "sim_ann_lsh_topk", "candidate_generation"),
        ("multiprobe", "sim_ann_multiprobe_topk",
         "candidate_generation"),
        ("multiprobe2", "sim_ann_multiprobe2_topk", "retrieval"),
        ("ivf_fixedpoint", "sim_ivf_fixedpoint_topk", "retrieval"),
        # 8-subspace PQ on structureless random vectors quantizes away
        # most of the signal (recall@5 16%) — honest label: feed a
        # re-ranker, never the final answer
        ("pq_adc", "sim_pq_adc_topk", "candidate_generation"),
        # index trained on the base corpus only; batch folded in by
        # one frozen-centroid pass — recall@5 40% on this corpus
        ("ivf_incremental", "sim_ivf_incremental_topk",
         "candidate_generation"),
    ]


@register(
    "sim_ann_recall_matrix",
    oracle=_recall_matrix_oracle(),
    doc="recall@5 vs exact float cosine for every oracled ANN method "
        "(bucket LSH, Hamming-1/-2 multi-probe, integer fixed-point "
        "IVF, PQ-ADC, incremental IVF — 6 legs) with the honest role "
        "column; every leg of this dashboard is value-hash-checked "
        "end-to-end",
)
def sim_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (sim_bruteforce_topk(spark, sf_dir)
             .select("query_id", "cand_id"))
    out = None
    # leg registry names double as this module's function names
    for m, name, role in _raw_recall_legs():
        row = (_leg_hits(exact, globals()[name](spark, sf_dir))
               .select(F.lit(m).alias("method"), F.lit(role).alias("role"),
                       "n_hits",
                       (F.col("n_hits").cast("double")
                        / F.col("n_exact").cast("double"))
                       .alias("recall_at_5")))
        out = row if out is None else out.unionByName(row)
    return out


# (method, leg query) of the three-method dashboard
_ANN_RECALL_LEGS = (("lsh", "sim_ann_lsh_topk"),
                    ("lsh_multiprobe", "sim_ann_multiprobe_topk"),
                    ("ivf", "sim_ivf_topk"))


def _ann_recall_oracle() -> str:
    return " UNION ALL ".join(_leg_recall_oracle(f"""
               '{m}' AS method,
               CAST(COUNT(DISTINCT f.query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(q.cand_id) AS DOUBLE)
                   / CAST(COUNT(DISTINCT f.query_id) * 5 AS DOUBLE)
                   AS recall_at_5""", REGISTRY[n].oracle)
        for m, n in _ANN_RECALL_LEGS)


@register(
    "sim_ann_recall",
    oracle=_ann_recall_oracle(),
    doc="self-measuring ANN quality: joins the LSH-ANN, multi-probe "
        "and IVF top-5 sets against the exact brute-force top-5 and "
        "reports recall@5 per method — the accept/reject dashboard a "
        "100 TB ANN deployment runs before trusting the approximate "
        "path. On this synthetic corpus (i.i.d. random vectors, no "
        "cluster structure) single-probe hyperplane LSH is the "
        "documented worst case (~4%); the IVF re-rank with nprobe=2 "
        "holds ~90%. Real embedding corpora are clustered, which is "
        "what both methods exploit — the query exists precisely to "
        "measure that before switching off the exact path",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (sim_bruteforce_topk(spark, sf_dir)
             .select("query_id", "cand_id"))
    out = None
    for m, name in _ANN_RECALL_LEGS:
        row = (_leg_hits(exact, globals()[name](spark, sf_dir))
               .select(F.lit(m).alias("method"), "n_queries",
                       (F.col("n_hits").cast("double")
                        / (F.col("n_queries") * 5).cast("double"))
                       .alias("recall_at_5")))
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Hybrid retrieval: dense (embedding cosine) + sparse (lexical Jaccard)
# legs fused by reciprocal-rank fusion — the production RAG retrieval
# pattern (Cormack et al., SIGIR'09 RRF). vec_id and doc_id share one
# [0, N) domain in the testdata, so embedding i IS document i and the
# two legs rank the same corpus. Both legs broadcast the query set and
# scan the corpus once; fusion is rank arithmetic on 2 x K_LEG rows per
# query. RRF scores are doubles, but every input is an integer rank
# and both engines evaluate the identical expression tree, so the
# whole fused ranking value-hash-matches.
# ---------------------------------------------------------------------------

_RRF_K = 60
_HY_K_LEG = 20
_HY_K_OUT = 5
_HY_TOKS = r"list_distinct(string_split_regex(lower(trim(text)), '\s+'))"


@register(
    "hybrid_retrieval_rrf",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    dense AS (
        SELECT query_id, cand_id, rd FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.vec, c.vec)
                                / (q.norm * c.norm) DESC, c.vec_id) AS rd
            FROM v q JOIN v c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {_N_QUERIES}) t
        WHERE rd <= {_HY_K_LEG}
    ),
    toks AS (
        SELECT doc_id, {_HY_TOKS} AS tok FROM documents
    ),
    sparse AS (
        SELECT query_id, cand_id, rs FROM (
            SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.doc_id
                       ORDER BY
                           CAST(len(list_intersect(c.tok, q.tok)) AS DOUBLE)
                           / CAST(greatest(len(c.tok) + len(q.tok)
                                  - len(list_intersect(c.tok, q.tok)), 1)
                                  AS DOUBLE) DESC, c.doc_id) AS rs
            FROM toks q JOIN toks c ON c.doc_id != q.doc_id
            WHERE q.doc_id < {_N_QUERIES}) t
        WHERE rs <= {_HY_K_LEG}
    ),
    fused AS (
        SELECT coalesce(d.query_id, s.query_id) AS query_id,
               coalesce(d.cand_id, s.cand_id) AS cand_id,
               coalesce(1.0 / ({_RRF_K}.0 + rd), 0.0)
                 + coalesce(1.0 / ({_RRF_K}.0 + rs), 0.0) AS rrf
        FROM dense d FULL OUTER JOIN sparse s
          ON d.query_id = s.query_id AND d.cand_id = s.cand_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(cand_id AS BIGINT) AS cand_id, rrf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, cand_id) AS rnk
          FROM fused) t
    WHERE rnk <= {_HY_K_OUT}
    """,
    doc="hybrid retrieval (the production RAG pattern): dense "
        "embedding-cosine top-20 and sparse lexical-Jaccard top-20 per "
        "query doc, fused by reciprocal-rank fusion (k=60) to a top-5 "
        "— query set broadcast on both legs, one corpus scan each, "
        "fusion is rank arithmetic; fully value-hash-checked including "
        "the fused float scores (integer ranks -> identical expression "
        "tree in both engines)",
    bench=True,
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    dense = (sim.brute_force_topk(emb, queries, k=_HY_K_LEG)
             .select("query_id", "cand_id", F.col("rnk").alias("rd")))
    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.expr(r"split(lower(trim(text)), '\\s+')")).alias("tok"))
    qt = (toks.where(F.col("doc_id") < _N_QUERIES)
          .select(F.col("doc_id").alias("query_id"),
                  F.col("tok").alias("qtok")))
    inter = F.size(F.array_intersect("tok", "qtok"))
    union = F.size("tok") + F.size("qtok") - inter
    scored = (toks.crossJoin(F.broadcast(qt))
              .where(F.col("doc_id") != F.col("query_id"))
              .withColumn("jac", inter.cast("double")
                          / F.greatest(union, F.lit(1)).cast("double")))
    w_s = Window.partitionBy("query_id").orderBy(F.desc("jac"),
                                                 F.asc("doc_id"))
    sparse = (scored.withColumn("rs", F.row_number().over(w_s))
              .where(F.col("rs") <= _HY_K_LEG)
              .select("query_id", F.col("doc_id").alias("cand_id"), "rs"))
    rrf = (F.coalesce(F.lit(1.0)
                      / (F.lit(float(_RRF_K)) + F.col("rd").cast("double")),
                      F.lit(0.0))
           + F.coalesce(F.lit(1.0)
                        / (F.lit(float(_RRF_K)) + F.col("rs").cast("double")),
                        F.lit(0.0)))
    fused = (dense.join(sparse, ["query_id", "cand_id"], "full_outer")
             .withColumn("rrf", rrf))
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"),
                                                 F.asc("cand_id"))
    return (fused.withColumn("rnk", F.row_number().over(w_f))
            .where(F.col("rnk") <= _HY_K_OUT)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("cand_id").cast("bigint").alias("cand_id"),
                    "rrf", F.col("rnk").cast("int").alias("rnk")))


K_CAND, K_OUT = 8, 4


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified retrieval: greedy
# reranking of the quantized top-8 so each next pick maximizes
# relevance MINUS its similarity to what is already picked (lambda =
# 1/2, which reduces argmax to rel - max_sim) — the standard RAG
# de-redundancy step.  The greedy loop runs on the per-query top-8
# frame (constant size at any corpus scale; the corpus-sized work is
# the candidate retrieval above it), and the oracle unrolls all four
# selection steps as CTE stages — the same technique as the
# fixed-point PageRank and label-propagation oracles.

@register(
    "sim_mmr_diversified_topk",
    oracle=f"""
    WITH {_QUANT_CTE},
    cand AS (
        SELECT query_id, cand_id, cosine_q AS rel
        FROM qscored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_q DESC, cand_id)
                <= 8
    ),
    psim AS (
        SELECT ca.query_id, ca.cand_id AS a, cb.cand_id AS b,
               list_dot_product(x.qv, y.qv) / (x.qnorm * y.qnorm) AS sim
        FROM cand ca
        JOIN cand cb ON ca.query_id = cb.query_id
                    AND ca.cand_id != cb.cand_id
        JOIN qn x ON x.vec_id = ca.cand_id
        JOIN qn y ON y.vec_id = cb.cand_id
    ),
    s1 AS (
        SELECT query_id, cand_id, rel, rel AS score, 1 AS pos
        FROM cand
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rel DESC, cand_id) = 1
    ),
    sel1 AS (SELECT * FROM s1),
    rem2 AS (
        SELECT c.query_id, c.cand_id, c.rel
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM sel1 s
                          WHERE s.query_id = c.query_id
                            AND s.cand_id = c.cand_id)
    ),
    ms2 AS (
        SELECT r.query_id, r.cand_id, r.rel,
               MAX(p.sim) AS maxsim
        FROM rem2 r JOIN psim p
          ON p.query_id = r.query_id AND p.a = r.cand_id
        WHERE p.b IN (SELECT cand_id FROM sel1 s
                      WHERE s.query_id = r.query_id)
        GROUP BY r.query_id, r.cand_id, r.rel
    ),
    s2 AS (
        SELECT query_id, cand_id, rel, rel - maxsim AS score,
               2 AS pos
        FROM ms2
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rel - maxsim DESC,
                                            cand_id) = 1
    ),
    sel2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    rem3 AS (
        SELECT c.query_id, c.cand_id, c.rel
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM sel2 s
                          WHERE s.query_id = c.query_id
                            AND s.cand_id = c.cand_id)
    ),
    ms3 AS (
        SELECT r.query_id, r.cand_id, r.rel,
               MAX(p.sim) AS maxsim
        FROM rem3 r JOIN psim p
          ON p.query_id = r.query_id AND p.a = r.cand_id
        WHERE p.b IN (SELECT cand_id FROM sel2 s
                      WHERE s.query_id = r.query_id)
        GROUP BY r.query_id, r.cand_id, r.rel
    ),
    s3 AS (
        SELECT query_id, cand_id, rel, rel - maxsim AS score,
               3 AS pos
        FROM ms3
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rel - maxsim DESC,
                                            cand_id) = 1
    ),
    sel3 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3),
    rem4 AS (
        SELECT c.query_id, c.cand_id, c.rel
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM sel3 s
                          WHERE s.query_id = c.query_id
                            AND s.cand_id = c.cand_id)
    ),
    ms4 AS (
        SELECT r.query_id, r.cand_id, r.rel,
               MAX(p.sim) AS maxsim
        FROM rem4 r JOIN psim p
          ON p.query_id = r.query_id AND p.a = r.cand_id
        WHERE p.b IN (SELECT cand_id FROM sel3 s
                      WHERE s.query_id = r.query_id)
        GROUP BY r.query_id, r.cand_id, r.rel
    ),
    s4 AS (
        SELECT query_id, cand_id, rel, rel - maxsim AS score,
               4 AS pos
        FROM ms4
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rel - maxsim DESC,
                                            cand_id) = 1
    )
    SELECT query_id, CAST(pos AS INTEGER) AS pos, cand_id, rel, score
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
    """,
    doc="MMR-diversified top-4 per probe over the quantized top-8 "
        "candidates (lambda=1/2: score = relevance - max similarity "
        "to the picked set, min-id ties) — greedy selection fully "
        "unrolled in the DuckDB oracle; constant-size rerank frame "
        "at any scale",
    bench=True,
)
def sim_mmr_diversified_topk(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    # Round-14 re-plan (guide §1.2/§4.2): the greedy selection used to
    # run as K_OUT-1 driver-side loop rounds of anti-join + semi-join
    # + window + EAGER localCheckpoint — ~6 Spark jobs per call over a
    # frame that is ≤ K_CAND rows per query BY CONSTRUCTION. The loop
    # now runs inside ONE cogrouped Arrow pass (candidates × pairwise
    # sims per query), so the whole query is a single job again. The
    # per-group frame stays constant-size at any corpus scale (that is
    # the point of the top-8 rerank), and the greedy arithmetic is the
    # same IEEE double ops (score = rel - max(sim)) the unrolled
    # DuckDB oracle states, so the output is bit-identical.
    from pyspark.sql import Window

    import numpy as np
    import pandas as pd

    scored = _quantized_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_q"),
                                               F.asc("cand_id"))
    cand = (scored.withColumn("_rnk", F.row_number().over(w))
            .where(F.col("_rnk") <= K_CAND)
            .select("query_id", "cand_id",
                    F.col("cosine_q").alias("rel")))
    d = _quantized_corpus(spark, sf_dir)
    ca, cb = cand.alias("ca"), cand.alias("cb")
    psim = (ca.join(cb, (F.col("ca.query_id") == F.col("cb.query_id"))
                    & (F.col("ca.cand_id") != F.col("cb.cand_id")))
            .join(d.alias("x"),
                  F.col("x.vec_id") == F.col("ca.cand_id"))
            .join(d.alias("y"),
                  F.col("y.vec_id") == F.col("cb.cand_id"))
            .select(F.col("ca.query_id").alias("query_id"),
                    F.col("ca.cand_id").alias("a"),
                    F.col("cb.cand_id").alias("b"),
                    (sim.dot_expr("x.qv", "y.qv")
                     / (F.col("x.qnorm") * F.col("y.qnorm")))
                    .alias("sim")))

    def _greedy(cand_pdf: "pd.DataFrame",
                psim_pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(cand_pdf) == 0:
            return pd.DataFrame({"query_id": np.array([], dtype=np.int64),
                                 "pos": np.array([], dtype=np.int32),
                                 "cand_id": np.array([], dtype=np.int64),
                                 "rel": np.array([], dtype=np.float64),
                                 "score": np.array([], dtype=np.float64)})
        qid = int(cand_pdf["query_id"].iloc[0])
        ids = cand_pdf["cand_id"].to_numpy()
        rel = cand_pdf["rel"].to_numpy()
        simmap = {(a, b): s for a, b, s in
                  psim_pdf[["a", "b", "sim"]].itertuples(index=False)}
        avail = list(range(len(ids)))
        chosen: list[int] = []
        rows = []
        for pos in range(1, K_OUT + 1):
            best_i, best_key = None, None
            for i in avail:
                if pos == 1:
                    score = rel[i]
                else:
                    score = rel[i] - max(simmap[(ids[i], ids[j])]
                                         for j in chosen)
                key = (-score, ids[i])
                if best_key is None or key < best_key:
                    best_key, best_i, best_score = key, i, score
            if best_i is None:
                break
            rows.append((qid, pos, ids[best_i], rel[best_i], best_score))
            chosen.append(best_i)
            avail.remove(best_i)
        out = pd.DataFrame(rows, columns=["query_id", "pos", "cand_id",
                                          "rel", "score"])
        return out.astype({"query_id": np.int64, "pos": np.int32,
                           "cand_id": np.int64, "rel": np.float64,
                           "score": np.float64})

    return (cand.groupBy("query_id").cogroup(psim.groupBy("query_id"))
            .applyInPandas(_greedy, "query_id bigint, pos int, "
                                    "cand_id bigint, rel double, "
                                    "score double"))


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
# the corpus with k-means, then look for near-duplicate pairs ONLY
# within each cluster — the cluster assignment replaces the quadratic
# all-pairs scan, which is what makes semantic dedup feasible at
# 100 TB (k grows with the corpus so per-cluster size stays bounded).
# Made value-hash-checkable by reusing the integer fixed-point k-means
# (_fp_kmeans_ctes / _kmeans_index): assignment is exact both
# engines; pair cosine runs over the same quantized BIGINT vectors, so
# dot/norm sums are exact integers (<= 64 * 2^40 < 2^53 — every
# partial sum is exactly representable, hence order-invariant) and the
# final cosine is one deterministic mult/sqrt/div chain.
# Survivorship is deterministic min-id: drop x iff some y < x in the
# same cluster has cos(x, y) >= tau.
#
# The quadratic term is bounded IN CODE, twice (the same discipline as
# the LSH bucket cap in operators/dedup.py):
#   1. k grows with the corpus — k = max(8, ceil(n / _SD_TARGET)) keeps
#      the MEAN cluster at <= _SD_TARGET members no matter the scale
#      (256.0 is a power of two, so n/256.0 then ceil is exact and
#      identical in Spark, DuckDB, and Python);
#   2. a HARD per-cluster scan cap — members are ranked by vec_id and
#      only ranks <= _SD_CAP enter the pair scan, so no Arrow group
#      (and no oracle self-join side) ever exceeds _SD_CAP rows even
#      under worst-case skew; the truncation is not silent: every
#      report row carries n_scanned / n_overflow census columns, and
#      the Pandas group asserts the bound so a violation fails loudly
#      rather than degrading.
# ---------------------------------------------------------------------------

_SD_K_MIN = 8      # floor: small corpora keep the historical k=8
_SD_TARGET = 256   # derive k so the mean cluster stays <= this
_SD_CAP = 512      # hard per-cluster scan bound (2x target, skew slack)
_SD_ITERS = 2
_SD_TAU = 0.35

# SQL twin of the Spark driver-side k derivation (exact: /256.0 is a
# power-of-two division, ceil of an exact double is exact).
_SD_K_SQL = (f"(SELECT GREATEST({_SD_K_MIN}, "
             f"CAST(CEIL(COUNT(*) / {_SD_TARGET}.0) AS BIGINT)) "
             f"FROM embeddings)")


def _sd_k(n: int) -> int:
    """k for an n-vector corpus — must mirror _SD_K_SQL bit-for-bit."""
    return max(_SD_K_MIN, -(-n // _SD_TARGET))


def _semdedup_oracle() -> str:
    iters, tau, cap = _SD_ITERS, _SD_TAU, _SD_CAP
    return f"""
    {_fp_kmeans_ctes(_SD_K_SQL, iters, final_update=False)},
    scan AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY cid
                                      ORDER BY vec_id) AS rnk
            FROM a{iters}) t WHERE rnk <= {cap}
    ),
    qa AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * {_IVF_SCALE!r}) AS BIGINT))
                   AS q
        FROM embeddings
    ),
    pr AS MATERIALIZED (
        SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(x.q::DOUBLE[], y.q::DOUBLE[])
                 / (sqrt(list_dot_product(x.q::DOUBLE[], x.q::DOUBLE[]))
                    * sqrt(list_dot_product(y.q::DOUBLE[], y.q::DOUBLE[])))
                   AS cos
        FROM scan a JOIN scan b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN qa x ON x.vec_id = a.vec_id
        JOIN qa y ON y.vec_id = b.vec_id
    ),
    dup AS (SELECT cid, id_a, id_b, cos FROM pr WHERE cos >= {tau!r}),
    members AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM a{iters} GROUP BY cid
    ),
    dstat AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
               CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_dropped,
               MAX(cos) AS max_cos
        FROM dup GROUP BY cid
    )
    SELECT m.cid, m.n_members,
           CAST(LEAST(m.n_members, {cap}) AS BIGINT) AS n_scanned,
           CAST(GREATEST(m.n_members - {cap}, 0) AS BIGINT) AS n_overflow,
           COALESCE(d.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(d.n_dropped, 0) AS n_dropped,
           m.n_members - COALESCE(d.n_dropped, 0) AS n_kept,
           d.max_cos
    FROM members m LEFT JOIN dstat d ON d.cid = m.cid
    """


@register(
    "dedup_semdedup_clusters",
    oracle=_semdedup_oracle(),
    doc="SemDeDup-style semantic dedup: integer fixed-point k-means "
        "(k = max(8, ceil(n/256)) grows with the corpus, 2 Lloyd "
        "iterations, 2^-20-quantized) assigns clusters; near-dup "
        "pairs (quantized cosine >= 0.35) are searched ONLY within "
        "clusters and only over the first 512 members by vec_id rank "
        "(hard in-code cap; truncation reported per cluster as "
        "n_scanned/n_overflow) — never all-pairs, never an unbounded "
        "Arrow group; deterministic min-id survivorship. Every column "
        "value-hash-checked against the unrolled DuckDB CTE chain.",
    bench=True,
)
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iq_to_hdl_migration_spark.operators.fanout import capped_fanout

    emb = load_table(spark, sf_dir, "embeddings")
    assign = _kmeans_index(emb, "semdedup")["assign"]
    # Shared flood-cap primitive (r14): rank members per cluster by
    # vec_id, scan only the first _SD_CAP; the census part is the
    # per-cluster membership/overflow frame the report joins below.
    fan = capped_fanout(assign, ["cid"], [F.col("vec_id").asc()],
                        _SD_CAP)
    scan = fan["kept"].select("vec_id", "cid")
    qa = emb.select(
        "vec_id",
        F.expr(f"transform({sim.as_double_array('embedding')}, "
               f"x -> CAST(FLOOR(x * {_IVF_SCALE!r}) AS BIGINT))")
        .alias("q"))
    # Per-cluster Gram matrix via applyInPandas — the one place a
    # Pandas UDF beats the built-ins: the inner loop is a dense
    # cluster_size x 64 GEMM, which BLAS does in milliseconds while
    # the previous zip_with/aggregate pair join interpreted 64
    # multiplies per pair (1.6M pairs at sf0.1 — 2x the query's
    # runtime).  Bit-exactness is preserved, not approximated: every
    # product |qv*qv| <= 2^40 and every 64-term partial sum <= 2^46
    # is an integer below 2^53, so float64 GEMM accumulation is EXACT
    # in any summation order, and the cosine is formed with the
    # oracle's exact op order dot / (sqrt(na) * sqrt(nb)).  Only
    # above-threshold pairs leave Python — pair volume never hits
    # the Arrow boundary.
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    def _cluster_dups(pdf):
        import numpy as np
        import pandas as pd
        # The scan-cap filter upstream guarantees this; fail loudly
        # (never degrade to an unbounded GEMM) if it is ever violated.
        assert len(pdf) <= _SD_CAP, \
            f"SemDeDup cluster group {len(pdf)} exceeds cap {_SD_CAP}"
        qm = np.stack(pdf["q"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        qm, ids = qm[order], ids[order]
        g = qm @ qm.T
        norm = np.sqrt(np.diag(g))
        cos = g / (norm[:, None] * norm[None, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= _SD_TAU
        return pd.DataFrame({
            "cid": pdf["cid"].iloc[0],
            "id_a": ids[iu[keep]], "id_b": ids[ju[keep]],
            "cos": cos[iu, ju][keep]})

    dup = (scan.join(qa, "vec_id")
           .groupBy("cid")
           .applyInPandas(_cluster_dups,
                          "cid bigint, id_a bigint, id_b bigint, "
                          "cos double"))
    # the helper census IS the membership/truncation frame; this
    # report's n_kept means "not dropped as a duplicate" (a different
    # notion from the census's n_kept = scanned), hence the renames
    members = fan["census"].select(
        "cid", F.col("n_in_bucket").cast("bigint").alias("n_members"),
        F.col("n_kept").cast("bigint").alias("n_scanned"),
        F.col("n_overflow").cast("bigint").alias("n_overflow"))
    dstat = dup.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
        F.max("cos").alias("max_cos"))
    return (members.join(dstat, "cid", "left")
            .select("cid", "n_members", "n_scanned", "n_overflow",
                    F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint")
                    .alias("n_dup_pairs"),
                    F.coalesce("n_dropped", F.lit(0)).cast("bigint")
                    .alias("n_dropped"),
                    (F.col("n_members") - F.coalesce("n_dropped",
                                                     F.lit(0)))
                    .cast("bigint").alias("n_kept"),
                    "max_cos"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — Jégou et al. 2011 (public): split
# each vector into M subspaces, run k-means PER SUBSPACE, store every
# corpus vector as M small codes, and answer queries by Asymmetric
# Distance Computation: one (sub, cid) -> partial-d2 lookup table per
# query, summed over the M codes.  The 100 TB story is compression —
# the scan reads M bytes per vector instead of 4*DIM, the codebook
# (M*k*dim_sub rows) and the per-query ADC tables (M*k rows) are
# broadcast, and the corpus is never shuffled.  Integer fixed-point
# arithmetic end-to-end (2^-20 quantization, floor-mean updates,
# deterministic (d2, cid) tie-breaks) so every stage is value-hash-
# checkable against the unrolled DuckDB CTE chain, like the IVF twin.
# ---------------------------------------------------------------------------

_PQ_M = 8          # subspaces (64 dims -> 8 dims each)
_PQ_K = 4          # codes per subspace; seeds = vec_id 0..3 sub-vectors
_PQ_ITERS = 2


def _pq_oracle() -> str:
    m, k, iters = _PQ_M, _PQ_K, _PQ_ITERS
    dsub = sim.DIM // m
    parts = [f"""
    WITH v AS MATERIALIZED (
        SELECT e.vec_id, d.dim, (d.dim - 1) // {dsub} AS sub,
               CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE)
                          * {_IVF_SCALE!r}) AS BIGINT) AS qv
        FROM embeddings e, (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim) d
    ),
    pc0 AS MATERIALIZED (
        SELECT sub, vec_id AS cid, dim, qv AS cq FROM v WHERE vec_id < {k}
    )"""]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    pd{i} AS MATERIALIZED (
        SELECT v.vec_id, v.sub, c.cid,
               SUM((v.qv - c.cq) * (v.qv - c.cq)) AS d2
        FROM v JOIN pc{p} c ON c.dim = v.dim
        GROUP BY v.vec_id, v.sub, c.cid
    ),
    pa{i} AS MATERIALIZED (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, cid) AS rn
            FROM pd{i}) t WHERE rn = 1
    ),
    pu{i} AS MATERIALIZED (
        SELECT a.sub, a.cid, v.dim,
               CAST(FLOOR(CAST(SUM(v.qv) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
        FROM pa{i} a JOIN v ON v.vec_id = a.vec_id AND v.sub = a.sub
        GROUP BY a.sub, a.cid, v.dim
    ),
    pc{i} AS MATERIALIZED (
        SELECT p.sub, p.cid, p.dim, COALESCE(u.cq, p.cq) AS cq
        FROM pc{p} p LEFT JOIN pu{i} u
          ON u.sub = p.sub AND u.cid = p.cid AND u.dim = p.dim
    )""")
    parts.append(f"""
    adctab AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.sub, c.cid,
               SUM((q.qv - c.cq) * (q.qv - c.cq)) AS d2
        FROM v q JOIN pc{iters} c ON c.dim = q.dim
        WHERE q.vec_id < {_N_QUERIES}
        GROUP BY q.vec_id, c.sub, c.cid
    ),
    adc AS MATERIALIZED (
        SELECT t.query_id, a.vec_id AS cand_id, SUM(t.d2) AS adc_d2
        FROM pa{iters} a
        JOIN adctab t ON t.sub = a.sub AND t.cid = a.cid
        WHERE a.vec_id != t.query_id
        GROUP BY t.query_id, a.vec_id
    )
    SELECT query_id, cand_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT query_id, cand_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, cand_id) AS rnk
        FROM adc) t
    WHERE rnk <= 5
    """)
    return ",".join(parts)


@register(
    "sim_pq_adc_topk",
    oracle=_pq_oracle(),
    doc="product-quantization ANN (Jegou et al. 2011): integer k-means "
        "per 8-dim subspace (k=4, 2 Lloyd iterations, 2^-20 fixed "
        "point), corpus stored as 8 codes/vector, queries answered by "
        "Asymmetric Distance Computation over a broadcast (sub, cid) "
        "lookup table — the compressed-scan member of the ANN family "
        "(vs LSH buckets and IVF lists); every stage hash-checked "
        "against the unrolled DuckDB CTE chain",
    bench=True,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # the codebooks (sub, cid, dim, cq) and the corpus codes (vec_id,
    # sub, cid) are the PQ config's slice of the trained-index memo;
    # a dim lies in exactly one subspace, so the query rows join the
    # codebooks on dim alone
    idx = _kmeans_index(load_table(spark, sf_dir, "embeddings"), "pq")
    v, cents, codes = idx["v"], idx["cents"], idx["assign"]
    adctab = (v.where(F.col("vec_id") < _N_QUERIES)
              .withColumnRenamed("vec_id", "query_id")
              .join(cents.hint("broadcast"), "dim")
              .groupBy("query_id", "sub", "cid")
              .agg(F.sum((F.col("qv") - F.col("cq"))
                         * (F.col("qv") - F.col("cq"))).alias("d2")))
    adc = (codes.join(adctab.hint("broadcast"), ["sub", "cid"])
           .where(F.col("vec_id") != F.col("query_id"))
           .groupBy("query_id", F.col("vec_id").alias("cand_id"))
           .agg(F.sum("d2").alias("adc_d2")))
    wr = Window.partitionBy("query_id").orderBy("adc_d2", "cand_id")
    return (adc.withColumn("rnk", F.row_number().over(wr))
            .where(F.col("rnk") <= 5)
            .select("query_id", "cand_id",
                    F.col("adc_d2").cast("bigint").alias("adc_d2"),
                    F.col("rnk").cast("int").alias("rnk")))


# ---------------------------------------------------------------------------
# Incremental IVF: the ANN twin of dedup_incremental_pairs.  The
# index (integer k-means centroids + posting lists) is trained on the
# BASE corpus only; an arriving batch is folded in with ONE nearest-
# centroid assignment pass against the frozen centroids — no retrain,
# per-batch work linear in the batch — and queries probe the merged
# posting lists, proving newly ingested vectors are immediately
# retrievable.  `from_batch` marks hits that only exist because of
# the incremental fold.  100 TB shape: centroids are k*DIM rows
# (broadcast); batch assignment never touches the base corpus; the
# exact re-rank runs on probe-bounded candidates.

_INC_BASE_PRED = f"vec_id >= {_N_QUERIES} AND vec_id % 5 != 0"
_INC_BATCH_PRED = f"vec_id >= {_N_QUERIES} AND vec_id % 5 = 0"


def _ivf_incremental_oracle() -> str:
    k, iters, probe = _IVF_K, _IVF_ITERS, _IVF_PROBE
    parts = [_fp_kmeans_ctes(k, iters, final_update=True,
                             train_pred=_INC_BASE_PRED)]
    parts.append(f"""
    bdist AS MATERIALIZED (
        SELECT v.vec_id, c.cid,
               SUM((v.qv - c.cq) * (v.qv - c.cq)) AS d2
        FROM v JOIN c{iters} c ON c.dim = v.dim
        WHERE {_INC_BATCH_PRED}
        GROUP BY v.vec_id, c.cid
    ),
    bassign AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM bdist) t WHERE rn = 1
    ),
    postings AS MATERIALIZED (
        SELECT vec_id, cid FROM a{iters}
        UNION ALL SELECT vec_id, cid FROM bassign
    ),
    qdist AS MATERIALIZED (
        SELECT v.vec_id AS query_id, c.cid,
               SUM((v.qv - c.cq) * (v.qv - c.cq)) AS d2
        FROM v JOIN c{iters} c ON c.dim = v.dim
        WHERE v.vec_id < {_N_QUERIES}
        GROUP BY v.vec_id, c.cid
    ),
    probes AS MATERIALIZED (
        SELECT query_id, cid FROM (
            SELECT query_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, cid) AS rn
            FROM qdist) t WHERE rn <= {probe}
    ),
    cand AS MATERIALIZED (
        SELECT p.query_id, a.vec_id AS cand_id
        FROM probes p JOIN postings a ON a.cid = p.cid
        WHERE a.vec_id != p.query_id
    ),
    pair AS MATERIALIZED (
        SELECT c.query_id, c.cand_id,
               SUM((q.qv - x.qv) * (q.qv - x.qv)) AS qdist
        FROM cand c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v x ON x.vec_id = c.cand_id AND x.dim = q.dim
        GROUP BY c.query_id, c.cand_id
    )
    SELECT query_id, cand_id, CAST(qdist AS BIGINT) AS qdist,
           CAST(rnk AS INTEGER) AS rnk,
           CAST(cand_id % 5 = 0 AS INTEGER) AS from_batch
    FROM (
        SELECT query_id, cand_id, qdist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qdist, cand_id) AS rnk
        FROM pair) t
    WHERE rnk <= 5
    """)
    return ",".join(parts)


@register(
    "sim_ivf_incremental_topk",
    oracle=_ivf_incremental_oracle(),
    doc="incremental IVF ANN: integer k-means index trained on the "
        "base corpus only; an arriving batch (vec_id % 5 = 0) folded "
        "in by one nearest-centroid pass against frozen centroids; "
        "queries probe the merged postings and the exact re-rank "
        "flags batch-sourced hits — per-batch work independent of "
        "corpus size, hash-checked against the fully unrolled oracle",
    bench=True,
)
def sim_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    probe = _IVF_PROBE
    idx = _kmeans_index(emb, "ivf_base")
    v, cents, assign, varr = (idx["v"], idx["cents"], idx["assign"],
                              idx["varr"])
    # Round-14 re-plan (guide §2.4): the arriving batch's
    # nearest-centroid pass and the queries' probe ranking used to be
    # two separate join+groupBy+window pipelines over the same cached
    # per-dim table — six tiny sequential AQE stages whose latency
    # dominated the call. Both are "rank centroids per vector", so
    # score (batch ∪ queries) against the frozen centroids in ONE
    # exchange and ONE vec_id-partitioned window, then split. The
    # per-vector window sees exactly the rows each separate window
    # saw, so ranks (and every downstream integer) are identical.
    scored = (v.where((F.col("vec_id") < _N_QUERIES)
                      | (F.col("vec_id") % 5 == 0))
              .join(cents.hint("broadcast"), "dim")
              .groupBy("vec_id", "cid")
              .agg(F.sum((F.col("qv") - F.col("cq"))
                         * (F.col("qv") - F.col("cq"))).alias("d2")))
    wv = Window.partitionBy("vec_id").orderBy("d2", "cid")
    ranked = (scored.withColumn("rn", F.row_number().over(wv))
              .where(((F.col("vec_id") >= _N_QUERIES)
                      & (F.col("rn") == 1))
                     | ((F.col("vec_id") < _N_QUERIES)
                        & (F.col("rn") <= probe)))
              .localCheckpoint())
    bassign = (ranked.where(F.col("vec_id") >= _N_QUERIES)
               .select("vec_id", "cid"))
    postings = assign.unionByName(bassign)
    probes = (ranked.where(F.col("vec_id") < _N_QUERIES)
              .select(F.col("vec_id").alias("query_id"), "cid"))
    cand = (probes.join(postings.withColumnRenamed("vec_id", "cand_id"),
                        "cid")
            .where(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id"))
    # exact re-rank over the stored ARRAY table (round 14, guide
    # §2.3): qdist = |q|² + |c|² − 2·q·c — the per-dim row identity —
    # with the dot an in-plan array aggregate, so the candidate table
    # joins two row-per-vector frames instead of exploding to 64 rows
    # per pair and re-aggregating. All quantities are exact integers
    # < 2^53 (see varr), so the BIGINT qdist is bit-identical to the
    # oracle's per-dim sum.
    va_q = varr.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qa").alias("qa_q"),
        F.col("qq2").alias("qq2_q"))
    va_c = varr.select(F.col("vec_id").alias("cand_id"),
                       F.col("qa").alias("qa_c"),
                       F.col("qq2").alias("qq2_c"))
    pair = (cand.join(va_q.hint("broadcast"), "query_id")
            .join(va_c, "cand_id")
            .select("query_id", "cand_id",
                    (F.col("qq2_q") + F.col("qq2_c")
                     - F.lit(2.0) * sim.dot_expr("qa_q", "qa_c"))
                    .alias("qdist")))
    wr = Window.partitionBy("query_id").orderBy("qdist", "cand_id")
    return (pair.withColumn("rnk", F.row_number().over(wr))
            .where(F.col("rnk") <= 5)
            .select("query_id", "cand_id",
                    F.col("qdist").cast("bigint").alias("qdist"),
                    F.col("rnk").cast("int").alias("rnk"),
                    (F.col("cand_id") % 5 == 0).cast("int")
                    .alias("from_batch")))


# The recall matrix's oracle was first built mid-module, before the
# pq_adc / ivf_incremental legs existed; now that every leg is
# registered, rebuild it with the full set (the Spark fn reads
# _raw_recall_legs() at call time, so both sides agree).
REGISTRY["sim_ann_recall_matrix"].oracle = _recall_matrix_oracle()


_RAG_K = 8            # candidates retrieved per query
_RAG_BUDGET = 128     # context token budget per query


@register(
    "rag_context_packing",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               list_dot_product(q.vec, c.vec) / (q.norm * c.norm) AS cosine
        FROM v q JOIN v c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    cand AS (
        SELECT query_id, cand_id, cosine, CAST(rnk AS INTEGER) AS rnk
        FROM (
            SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id) AS rnk
            FROM scored
        ) t WHERE rnk <= {_RAG_K}
    ),
    tok AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT c.query_id, c.cand_id, c.rnk, c.cosine, t.n_tokens,
               CAST(SUM(t.n_tokens) OVER (PARTITION BY c.query_id
                                          ORDER BY c.rnk) AS BIGINT)
                   AS cum_tokens
        FROM cand c JOIN tok t ON t.doc_id = c.cand_id
    )
    SELECT query_id, cand_id, rnk, cosine, n_tokens, cum_tokens
    FROM packed WHERE cum_tokens <= {_RAG_BUDGET}
    """,
    doc=f"RAG context assembly: per probe query the exact-cosine top-"
        f"{_RAG_K} candidates are packed greedily in rank order until "
        f"the {_RAG_BUDGET}-token context budget is hit (prefix rule: "
        "a chunk enters iff the running total stays within budget) — "
        "the retrieval->context step of a RAG/eval pipeline. Query "
        "side broadcast twice (scoring, then the k-row candidate set "
        "against the token table), corpus never shuffled; the packing "
        "window is per-query over <= k rows.",
    bench=True,
)
def rag_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    cand = sim.brute_force_topk(emb, queries, k=_RAG_K)
    tok = docs.select(
        F.col("doc_id").alias("cand_id"),
        F.size(F.expr(r"split(lower(trim(text)), '\\s+')"))
        .cast("bigint").alias("n_tokens"))
    # candidate set is <= N_QUERIES * K rows -> broadcast it against
    # the corpus-sized token table (corpus side never shuffles)
    j = tok.join(F.broadcast(cand), "cand_id")
    w = (Window.partitionBy("query_id").orderBy("rnk")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (j.withColumn("cum_tokens",
                         F.sum("n_tokens").over(w).cast("bigint"))
            .where(F.col("cum_tokens") <= _RAG_BUDGET)
            .select("query_id", "cand_id", "rnk", "cosine",
                    "n_tokens", "cum_tokens"))


# ---------------------------------------------------------------------------
# Embedding-space data quality: per-label centroid distance outliers.
# A mislabeled or corrupted vector sits far from its label's centroid;
# the robust flag is median + 5*MAD of the squared distance (immune to
# the outliers it hunts — the dq_mad_outlier_docs discipline in
# embedding space). Integer end-to-end: 2^-20-quantized vectors,
# floor-mean centroids (the k-means update rule), BIGINT squared
# distances (<= 64 * 2^42 < 2^53 — exact in any order); the only
# doubles are exact binary halves from the two median passes. Scale
# shape: centroids are labels*DIM rows (broadcast); everything else is
# one groupBy per pass, never pairwise.
# ---------------------------------------------------------------------------


@register(
    "sim_embedding_outlier_report",
    oracle=f"""
    WITH v AS (
        SELECT e.vec_id, e.label, d.dim,
               CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE)
                          * {_IVF_SCALE!r}) AS BIGINT) AS qv
        FROM embeddings e, (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim) d
    ),
    cent AS (
        SELECT label, dim,
               CAST(FLOOR(CAST(SUM(qv) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
        FROM v GROUP BY label, dim
    ),
    d2 AS (
        SELECT v.vec_id, v.label,
               CAST(SUM((v.qv - c.cq) * (v.qv - c.cq)) AS BIGINT) AS d2
        FROM v JOIN cent c ON c.label = v.label AND c.dim = v.dim
        GROUP BY v.vec_id, v.label
    ),
    med AS (
        SELECT label, quantile_cont(d2, 0.5) AS med_d2 FROM d2
        GROUP BY label
    ),
    dev AS (
        SELECT d.label, d.d2, m.med_d2, abs(d.d2 - m.med_d2) AS adev
        FROM d2 d JOIN med m USING (label)
    ),
    mad AS (
        SELECT label, quantile_cont(adev, 0.5) AS mad_d2 FROM dev
        GROUP BY label
    )
    SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MAX(v.med_d2) AS med_d2, MAX(m.mad_d2) AS mad_d2,
           CAST(SUM(CASE WHEN v.d2 > v.med_d2 + 5 * m.mad_d2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(MAX(v.d2) AS BIGINT) AS max_d2
    FROM dev v JOIN mad m USING (label)
    GROUP BY v.label
    """,
    doc="embedding-space outlier audit: per-label integer centroid "
        "(floor-mean of 2^-20-quantized dims), BIGINT squared "
        "distances, robust median + 5*MAD flag per label — the "
        "mislabeled/corrupted-vector detector; centroids broadcast "
        "(labels*64 rows), two exact-median passes each one shuffle "
        "on label",
)
def sim_embedding_outlier_report(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = _fp_rows(emb, "vec_id", "label")
    cent = (v.groupBy("label", "dim")
            .agg(F.floor(F.sum("qv").cast("double")
                         / F.count(F.lit(1)).cast("double"))
                 .cast("bigint").alias("cq")))
    d2 = (v.join(cent.hint("broadcast"), ["label", "dim"])
          .groupBy("vec_id", "label")
          .agg(F.sum((F.col("qv") - F.col("cq"))
                     * (F.col("qv") - F.col("cq"))).cast("bigint")
               .alias("d2")))
    med = d2.groupBy("label").agg(
        F.expr("percentile(d2, 0.5D)").alias("med_d2"))
    dev = (d2.join(F.broadcast(med), "label")
           .withColumn("adev", F.abs(F.col("d2") - F.col("med_d2"))))
    mad = dev.groupBy("label").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad_d2"))
    return (dev.join(F.broadcast(mad), "label")
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.max("med_d2").alias("med_d2"),
                 F.max("mad_d2").alias("mad_d2"),
                 F.sum(F.when(F.col("d2") > F.col("med_d2")
                              + 5 * F.col("mad_d2"), 1).otherwise(0))
                 .cast("bigint").alias("n_outliers"),
                 F.max("d2").cast("bigint").alias("max_d2")))


# ---------------------------------------------------------------------------
# Embedding distribution drift: before folding an arrival batch into a
# served ANN index (sim_ivf_incremental_topk's split), check that the
# arrivals come from the SAME embedding distribution the index was
# trained on — per-dimension chi-square between base and arrival
# histograms. Portable arithmetic end-to-end: fixed 8-bin grid over
# [-1, 1) (floor of identical double ops), add-1-smoothed integer-ppm
# probabilities, per-bin contributions as BIGINT integer divisions so
# the per-dim sum is order-invariant; the only emitted double is one
# final division. 100 TB shape: one groupBy (dim, bin) over the
# exploded corpus — 64*8 result rows — never pairwise.
# ---------------------------------------------------------------------------

_DRIFT_BINS = 8


@register(
    "sim_embedding_drift_report",
    oracle=f"""
    WITH v AS (
        SELECT e.vec_id, d.dim,
               CAST(least(greatest(FLOOR((CAST(e.embedding[d.dim] AS DOUBLE)
                                          + 1.0) * 4.0), 0), 7) AS BIGINT)
                   AS bin,
               (e.vec_id % 5 = 0) AS is_arr
        FROM embeddings e, (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim) d
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS ta,
               CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS tb
        FROM v WHERE dim = 1
    ),
    grid AS (
        SELECT d.dim, b.bin
        FROM (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim) d,
             (SELECT unnest(range(0, {_DRIFT_BINS})) AS bin) b
    ),
    c AS (
        SELECT g.dim, g.bin,
               COALESCE(x.ca, 0) AS ca, COALESCE(x.cb, 0) AS cb
        FROM grid g LEFT JOIN (
            SELECT dim, bin,
                   CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0 END)
                        AS BIGINT) AS ca,
                   CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0 END)
                        AS BIGINT) AS cb
            FROM v GROUP BY dim, bin) x
          ON x.dim = g.dim AND x.bin = g.bin
    ),
    p AS (
        SELECT c.dim, c.bin,
               (c.ca + 1) * 1000000 // (t.ta + {_DRIFT_BINS}) AS pa,
               (c.cb + 1) * 1000000 // (t.tb + {_DRIFT_BINS}) AS pb
        FROM c, tot t
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(SUM(((pb - pa) * (pb - pa) * 1000000)
                    // greatest(pa, 1)) AS BIGINT) AS chi2_scaled,
           CAST(SUM(((pb - pa) * (pb - pa) * 1000000)
                    // greatest(pa, 1)) AS DOUBLE) / 1000000000000.0
               AS chi2,
           CAST(MAX(abs(pb - pa)) AS BIGINT) AS max_gap_ppm
    FROM p GROUP BY dim
    """,
    doc="embedding drift audit: per-dimension chi-square between the "
        "base corpus and the arrival batch (the incremental-IVF "
        "split) over a fixed 8-bin grid — add-1-smoothed integer-ppm "
        "probabilities, BIGINT per-bin contributions (order-invariant "
        "sums), one final double division; the accept/reject check "
        "before folding arrivals into a served ANN index",
)
def sim_embedding_drift_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = (emb.select(
            "vec_id",
            F.posexplode(F.expr(sim.as_double_array("embedding")))
            .alias("pos", "x"))
         .select((F.col("pos") + 1).alias("dim"),
                 F.least(F.greatest(F.floor((F.col("x") + F.lit(1.0))
                                            * F.lit(4.0)), F.lit(0)),
                         F.lit(7)).cast("bigint").alias("bin"),
                 (F.col("vec_id") % 5 == 0).alias("is_arr")))
    tot = (v.where(F.col("dim") == 1)
           .agg(F.sum(F.when(~F.col("is_arr"), 1).otherwise(0))
                .cast("bigint").alias("ta"),
                F.sum(F.when(F.col("is_arr"), 1).otherwise(0))
                .cast("bigint").alias("tb")))
    grid = (spark.range(1, sim.DIM + 1).select(F.col("id").alias("dim"))
            .crossJoin(spark.range(0, _DRIFT_BINS)
                       .select(F.col("id").alias("bin"))))
    counts = (v.groupBy("dim", "bin")
              .agg(F.sum(F.when(~F.col("is_arr"), 1).otherwise(0))
                   .cast("bigint").alias("ca"),
                   F.sum(F.when(F.col("is_arr"), 1).otherwise(0))
                   .cast("bigint").alias("cb")))
    c = (grid.join(counts, ["dim", "bin"], "left")
         .select("dim", "bin",
                 F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb")))
    p = (c.join(F.broadcast(tot))
         .select("dim", "bin",
                 F.expr(f"(ca + 1) * 1000000 div (ta + {_DRIFT_BINS})")
                 .alias("pa"),
                 F.expr(f"(cb + 1) * 1000000 div (tb + {_DRIFT_BINS})")
                 .alias("pb")))
    contrib = F.expr("((pb - pa) * (pb - pa) * 1000000) "
                     "div greatest(pa, 1L)")
    return (p.groupBy(F.col("dim").cast("int").alias("dim"))
            .agg(F.sum(contrib).cast("bigint").alias("chi2_scaled"),
                 (F.sum(contrib).cast("double") / F.lit(1e12))
                 .alias("chi2"),
                 F.max(F.abs(F.col("pb") - F.col("pa"))).cast("bigint")
                 .alias("max_gap_ppm")))


# ---------------------------------------------------------------------------
# Range retrieval: ALL candidates within a cosine radius of each probe
# — the dedup/recall companion to top-k (a near-duplicate audit wants
# "everything closer than τ", not a fixed k). Runs over the memoized
# int8-quantized corpus: scales cancel, so the score is pure integer
# dot products with one division, bit-exact in both engines; the
# corpus is never shuffled (probe side broadcast), making the scan
# embarrassingly parallel at any corpus size.
# ---------------------------------------------------------------------------

_RANGE_TAU = 0.30


@register(
    "sim_cosine_range_search",
    oracle=f"""
    WITH {_QUANT_CTE}
    SELECT query_id, cand_id, cosine_q
    FROM qscored
    WHERE cosine_q >= {_RANGE_TAU}
    """,
    doc=f"cosine range search: every candidate with quantized cosine "
        f">= {_RANGE_TAU} of each probe (the 'all near neighbors' "
        "primitive near-dup audits need, vs top-k's fixed cutoff) — "
        "integer dot products over the memoized int8 corpus, probe "
        "side broadcast, corpus never shuffled",
)
def sim_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_quantized_scored(spark, sf_dir)
            .where(F.col("cosine_q") >= _RANGE_TAU))


# ---------------------------------------------------------------------------
# Per-LABEL centroid shift between the base corpus and the arrival
# batch — the class-conditional companion to sim_embedding_drift_report
# (which is per-dimension, class-blind): a retrieval class whose
# centroid moved is re-trained even when the marginal per-dim
# histograms look stable. All arithmetic is the repo's fixed-point
# integer idiom (floor-quantized components, integer centroid means,
# BIGINT L1 shift), so every value hash-checks; one groupBy on
# (label, dim, half) over the exploded corpus — output is
# labels x dims, never vector-pairwise.
# ---------------------------------------------------------------------------


@register(
    "sim_centroid_shift_report",
    oracle=f"""
    WITH v AS (
        SELECT e.label, d.dim,
               CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE)
                          * {_IVF_SCALE}) AS BIGINT) AS qv,
               (e.vec_id % 5 = 0) AS is_arr
        FROM embeddings e,
             (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim) d
    ),
    cent AS (
        SELECT label, dim,
               CAST(FLOOR(CAST(SUM(CASE WHEN NOT is_arr THEN qv END)
                               AS DOUBLE)
                          / CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0
                                     END) AS DOUBLE)) AS BIGINT) AS cb,
               CAST(FLOOR(CAST(SUM(CASE WHEN is_arr THEN qv END)
                               AS DOUBLE)
                          / CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0
                                     END) AS DOUBLE)) AS BIGINT) AS ca
        FROM v GROUP BY label, dim
    ),
    counts AS (
        SELECT label,
               CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0 END)
                    / {sim.DIM} AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0 END)
                    / {sim.DIM} AS BIGINT) AS n_arr
        FROM v GROUP BY label
    )
    SELECT c.label, k.n_base, k.n_arr,
           CAST(SUM(abs(c.cb - c.ca)) AS BIGINT) AS l1_shift_scaled,
           CAST(MAX(abs(c.cb - c.ca)) AS BIGINT) AS max_dim_gap_scaled
    FROM cent c JOIN counts k ON k.label = c.label
    GROUP BY c.label, k.n_base, k.n_arr
    """,
    doc="per-label centroid shift between base corpus and arrival "
        "batch (vec_id % 5 split): fixed-point integer centroids per "
        "half, BIGINT L1 shift and worst-dimension gap per label — "
        "the class-conditional drift check that the per-dimension "
        "histogram misses; one (label, dim) groupBy, output is "
        "labels x dims, never pairwise",
)
def sim_centroid_shift_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = _fp_rows(emb, "label", (F.col("vec_id") % 5 == 0).alias("is_arr"))
    half_mean_b = (F.floor(
        F.sum(F.when(~F.col("is_arr"), F.col("qv"))).cast("double")
        / F.sum(F.when(~F.col("is_arr"), 1).otherwise(0)).cast("double"))
        .cast("bigint"))
    half_mean_a = (F.floor(
        F.sum(F.when(F.col("is_arr"), F.col("qv"))).cast("double")
        / F.sum(F.when(F.col("is_arr"), 1).otherwise(0)).cast("double"))
        .cast("bigint"))
    cent = (v.groupBy("label", "dim")
            .agg(half_mean_b.alias("cb"), half_mean_a.alias("ca")))
    counts = (v.groupBy("label")
              .agg((F.sum(F.when(~F.col("is_arr"), 1).otherwise(0))
                    / sim.DIM).cast("bigint").alias("n_base"),
                   (F.sum(F.when(F.col("is_arr"), 1).otherwise(0))
                    / sim.DIM).cast("bigint").alias("n_arr")))
    gap = F.abs(F.col("cb") - F.col("ca"))
    return (cent.join(F.broadcast(counts), "label")
            .groupBy("label", "n_base", "n_arr")
            .agg(F.sum(gap).cast("bigint").alias("l1_shift_scaled"),
                 F.max(gap).cast("bigint").alias("max_dim_gap_scaled")))


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve: recall@5 as a function of how many inverted
# lists each query probes (1, 2, 4, 8=k — the exhaustive endpoint).
# THE operational tuning decision for a served IVF index (latency
# scales with probes; recall is what you buy), measured instead of
# guessed — the same audit-the-estimator discipline as the recall
# matrix, as one oracled curve. The trained index is shared across
# legs (durable kmeans memo); each leg re-ranks only its own probed
# candidates.
# ---------------------------------------------------------------------------

_NPROBE_LEGS = (1, 2, 4, 8)


def _nprobe_curve_oracle() -> str:
    k, iters = _IVF_K, _IVF_ITERS
    parts = [_fp_kmeans_ctes(k, iters, final_update=True)]
    parts.append(f"""
    qdist AS MATERIALIZED (
        SELECT v.vec_id AS query_id, c.cid,
               SUM((v.qv - c.cq) * (v.qv - c.cq)) AS d2
        FROM v JOIN c{iters} c ON c.dim = v.dim
        WHERE v.vec_id < {_N_QUERIES}
        GROUP BY v.vec_id, c.cid
    ),
    rp AS MATERIALIZED (
        SELECT query_id, cid,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, cid) AS rn
        FROM qdist
    ),
    fv AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    fscored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               list_dot_product(a.vec, b.vec) / (a.norm * b.norm)
                   AS cosine
        FROM fv a JOIN fv b ON a.vec_id != b.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    ),
    ftop AS MATERIALIZED (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id)
                       AS rnk
            FROM fscored) t WHERE rnk <= 5
    )""")
    legs = []
    for p in _NPROBE_LEGS:
        parts.append(f"""
    cand{p} AS MATERIALIZED (
        SELECT r.query_id, a.vec_id AS cand_id
        FROM rp r JOIN a{iters} a ON a.cid = r.cid
        WHERE r.rn <= {p} AND a.vec_id != r.query_id
    ),
    pair{p} AS MATERIALIZED (
        SELECT c.query_id, c.cand_id,
               SUM((q.qv - x.qv) * (q.qv - x.qv)) AS qd
        FROM cand{p} c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v x ON x.vec_id = c.cand_id AND x.dim = q.dim
        GROUP BY c.query_id, c.cand_id
    ),
    top{p} AS MATERIALIZED (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY qd, cand_id) AS rnk
            FROM pair{p}) t WHERE rnk <= 5
    )""")
        legs.append(f"""
        SELECT CAST({p} AS INTEGER) AS n_probes,
               CAST(COUNT(q.cand_id) AS BIGINT) AS n_hits,
               CAST(COUNT(*) AS BIGINT) AS n_expected,
               CAST(COUNT(q.cand_id) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS recall_at_5
        FROM ftop f LEFT JOIN top{p} q
          ON q.query_id = f.query_id AND q.cand_id = f.cand_id""")
    return (",".join(parts) + "\n"
            + "\nUNION ALL\n".join(legs))


@register(
    "sim_ivf_nprobe_recall_curve",
    oracle=_nprobe_curve_oracle(),
    doc="IVF nprobe tuning curve: recall@5 vs probes-per-query for "
        f"nprobe in {list(_NPROBE_LEGS)} (8 = every list, the "
        "exhaustive endpoint) against the exact float top-5 — the "
        "latency/recall trade measured on the served integer index "
        "(shared trained k-means across legs); integer hit counts, "
        "one division per leg",
)
def sim_ivf_nprobe_recall_curve(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = (sim.brute_force_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=5)
        .select("query_id", "cand_id"))
    legs = []
    for p in _NPROBE_LEGS:
        got = (_ivf_fp_topk(spark, sf_dir, p)
               .select(F.col("query_id").alias("g_q"),
                       F.col("cand_id").alias("g_c")))
        j = exact.join(
            got, (F.col("query_id") == F.col("g_q"))
            & (F.col("cand_id") == F.col("g_c")), "left")
        legs.append(j.agg(
            F.lit(p).cast("int").alias("n_probes"),
            F.count("g_c").cast("bigint").alias("n_hits"),
            F.count(F.lit(1)).cast("bigint").alias("n_expected"),
            (F.count("g_c").cast("double")
             / F.count(F.lit(1)).cast("double")).alias("recall_at_5")))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# IVF index balance report: the health dashboard for the trained
# partition — per-cluster population, share, and the stitched global
# imbalance number (max cluster vs the perfectly-balanced size, in
# integer ppm). A skewed IVF index makes nprobe recall lopsided (hot
# cells scan most of the corpus, cold cells return nothing), so this
# is the audit that says REBALANCE before the recall curves degrade.
# Consumes the memoized fixed-point k-means assignment — the same
# index every IVF query serves — so the report costs one bounded
# groupBy on cid, not a re-train.
# ---------------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    k, iters = _IVF_K, _IVF_ITERS
    return _fp_kmeans_ctes(k, iters, final_update=False) + f""",
    sizes AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM a{iters} GROUP BY cid
    ),
    allc AS (SELECT DISTINCT cid FROM c0),
    filled AS (
        SELECT a.cid, COALESCE(s.n_members, 0) AS n_members
        FROM allc a LEFT JOIN sizes s ON s.cid = a.cid
    ),
    gtot AS (
        SELECT CAST(SUM(n_members) AS BIGINT) AS n_vectors,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(MAX(n_members) AS BIGINT) AS max_size,
               CAST(MIN(n_members) AS BIGINT) AS min_size
        FROM filled
    )
    SELECT CAST(f.cid AS BIGINT) AS cid, f.n_members,
           CAST(f.n_members * 1000000 // g.n_vectors AS BIGINT)
               AS share_ppm,
           g.n_vectors, g.n_clusters, g.max_size, g.min_size,
           CAST(g.max_size * g.n_clusters * 1000000 // g.n_vectors
                AS BIGINT) AS imbalance_ppm
    FROM filled f CROSS JOIN gtot g
    """


@register(
    "sim_ivf_balance_report",
    oracle=_ivf_balance_oracle(),
    doc="IVF cluster-balance audit over the memoized fixed-point "
        "k-means index: per-cell population and corpus share, plus "
        "the global imbalance factor (max cell vs perfect balance, "
        "integer ppm — 1e6 = perfectly balanced) stitched onto every "
        "row; empty cells reported as zero. One bounded groupBy on "
        "cid against the shared assignment table — an index audit, "
        "never a re-train",
)
def sim_ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _kmeans_index(emb, "ivf")
    sizes = idx["assign"].groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"))
    allc = idx["cents"].select("cid").distinct()
    filled = (allc.join(sizes, "cid", "left")
              .select("cid", F.coalesce("n_members", F.lit(0))
                      .cast("bigint").alias("n_members")))
    glob = filled.agg(
        F.sum("n_members").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.max("n_members").cast("bigint").alias("max_size"),
        F.min("n_members").cast("bigint").alias("min_size"))
    return (filled.join(F.broadcast(glob))
            .select(F.col("cid").cast("bigint").alias("cid"),
                    "n_members",
                    F.expr("n_members * 1000000 div n_vectors")
                    .cast("bigint").alias("share_ppm"),
                    "n_vectors", "n_clusters", "max_size", "min_size",
                    F.expr("max_size * n_clusters * 1000000 "
                           "div n_vectors")
                    .cast("bigint").alias("imbalance_ppm")))


# ---------------------------------------------------------------------------
# Leave-one-out nearest-prototype classification: the label-quality
# audit for an embedding corpus (mislabeled or drifted domains show up
# as off-diagonal mass in the confusion matrix). The classifier is
# nearest-centroid by cosine, with the centroid replaced by the label's
# int8-vector SUM — cosine is scale-invariant, so argmax over sums ==
# argmax over means, and the sum keeps EVERYTHING integer: per-label
# prototype S_L (BIGINT per dim), vector self-dot qq, prototype
# self-dot SS. Leave-one-out is then pure integer algebra — removing a
# member v from its own label's prototype is dot' = d − qq and
# |S−v|² = SS − 2d + qq — no second pass over the data. All dots stay
# far below 2^53, so the final cosine doubles are bit-exact in both
# engines (the sim_quantized_topk exactness argument). Scale shape:
# prototypes are one bounded (label × dim) integer shuffle; scoring is
# a map-only Arrow scan against the collected L×DIM prototype matrix
# (argmax taken inside the scan, so nothing per-vector is ever
# shuffled); output is the bounded L×L confusion grid. Overflow bound
# (honest): SS ≤ 64·(127·
# n_L)² needs n_L ≲ 7.5e7 members per label; past that, promote the
# prototype sums to DECIMAL(38,0).
# ---------------------------------------------------------------------------

@register(
    "sim_loo_centroid_confusion",
    oracle=f"""
    WITH dims AS (SELECT unnest(range(1, {sim.DIM} + 1)) AS dim),
    v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    s AS (
        SELECT vec_id, label, vec,
               greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0,
                        1e-30) AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, label,
               list_transform(vec, x -> FLOOR(x / scale + 0.5)) AS qv
        FROM s
    ),
    qq AS (
        SELECT vec_id, label, qv, list_dot_product(qv, qv) AS qq FROM q
    ),
    prot AS (
        SELECT label, d.dim, CAST(SUM(qv[d.dim]) AS BIGINT) AS sv
        FROM q, dims d GROUP BY label, d.dim
    ),
    pvec AS (
        SELECT label, list(CAST(sv AS DOUBLE) ORDER BY dim) AS pv
        FROM prot GROUP BY label
    ),
    pn AS (
        SELECT label, pv, list_dot_product(pv, pv) AS ss FROM pvec
    ),
    scored AS (
        SELECT t.vec_id, t.label AS true_label, p.label AS cand_label,
               list_dot_product(t.qv, p.pv)
                   - CASE WHEN t.label = p.label THEN t.qq ELSE 0 END
                   AS eff_dot,
               t.qq,
               p.ss - CASE WHEN t.label = p.label
                           THEN 2 * list_dot_product(t.qv, p.pv) - t.qq
                           ELSE 0 END AS eff_ss
        FROM qq t, pn p
    ),
    ranked AS (
        SELECT vec_id, true_label, cand_label,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY eff_dot / (sqrt(qq) * sqrt(eff_ss)) DESC,
                            cand_label) AS r
        FROM scored WHERE qq > 0 AND eff_ss > 0
    )
    SELECT CAST(true_label AS INTEGER) AS true_label,
           CAST(cand_label AS INTEGER) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM ranked WHERE r = 1 GROUP BY 1, 2
    """,
    doc="leave-one-out nearest-prototype confusion matrix over int8-"
        "quantized embeddings — the label-quality audit (off-diagonal "
        "mass = suspect labels); LOO via exact integer algebra on the "
        "label-sum prototype (dot' = d − qq, |S−v|² = SS − 2d + qq), "
        "one bounded (label×dim) partial-sum shuffle + one Arrow-"
        "vectorized map-only scoring scan against the collected L×DIM "
        "prototype matrix (a documented bounded barrier), bounded "
        "L×L output",
    bench=True,
)
def sim_loo_centroid_confusion(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    # Round-14 re-plan (guide §4.2): the scoring pass moved from an
    # N×L crossJoin + per-vector row_number window (each row paying
    # interpreted HOF dot products, the window a second N×L shuffle)
    # to ONE Arrow batch scan that computes D = Q·Pᵀ with numpy and
    # takes the argmax per row — no N×L intermediate, no window. All
    # quantities stay the exact integers the oracle computes (each
    # partial sum < 2^53, so summation order is irrelevant) and the
    # final cosine is the same correctly-rounded sqrt/division in
    # either engine, so the confusion grid is bit-identical. Scale
    # shape: prototype partials are a bounded (partition × L × DIM)
    # emit + one (label, pos) shuffle; the collected prototype table
    # is L×DIM (bounded by the label vocabulary — the same class of
    # documented driver barrier as the IVF centroid collect); scoring
    # is map-only over the corpus; output is the bounded L×L grid.
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "embedding")

    def _quantize(pdf: "pd.DataFrame") -> "np.ndarray":
        V = np.array([np.asarray(x, dtype=np.float64)
                      for x in pdf["embedding"]])
        scale = np.maximum(np.abs(V).max(axis=1) / 127.0, 1e-30)
        return np.floor(V / scale[:, None] + 0.5)

    def _partial_sums(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = _quantize(pdf)
            labs = pdf["label"].to_numpy()
            for lab in np.unique(labs):
                sv = Q[labs == lab].sum(axis=0)
                yield pd.DataFrame({
                    "label": np.full(sim.DIM, int(lab), dtype=np.int64),
                    "pos": np.arange(sim.DIM, dtype=np.int64),
                    "sv": sv.astype(np.int64)})

    prot_rows = (emb.mapInPandas(_partial_sums,
                                 "label bigint, pos bigint, sv bigint")
                 .groupBy("label", "pos")
                 .agg(F.sum("sv").cast("bigint").alias("sv"))
                 .collect())
    labs_sorted = sorted({r["label"] for r in prot_rows})
    lab_ix = {lab: i for i, lab in enumerate(labs_sorted)}
    P = np.zeros((len(labs_sorted), sim.DIM), dtype=np.float64)
    for r in prot_rows:
        P[lab_ix[r["label"]], r["pos"]] = float(r["sv"])
    SS = (P * P).sum(axis=1)            # exact integers (< 2^53)
    labs_arr = np.array(labs_sorted, dtype=np.int64)

    def _classify(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = _quantize(pdf)
            qq = (Q * Q).sum(axis=1)
            labs = pdf["label"].to_numpy()
            D = Q @ P.T                 # exact: every entry < 2^53
            own = labs[:, None] == labs_arr[None, :]
            eff_dot = D - np.where(own, qq[:, None], 0.0)
            eff_ss = SS[None, :] - np.where(own,
                                            2.0 * D - qq[:, None], 0.0)
            valid = (qq[:, None] > 0) & (eff_ss > 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = eff_dot / (np.sqrt(qq)[:, None]
                                   * np.sqrt(eff_ss))
            score = np.where(valid, score, -np.inf)
            keep = score.max(axis=1) > -np.inf
            # argmax returns the FIRST max along the ascending label
            # axis — exactly the (score DESC, cand_label ASC) pick
            pred = labs_arr[np.argmax(score[keep], axis=1)]
            yield pd.DataFrame({
                "true_label": labs[keep].astype(np.int32),
                "pred_label": pred.astype(np.int32)})

    picked = emb.mapInPandas(_classify, "true_label int, pred_label int")
    return (picked.groupBy("true_label", "pred_label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors")))


# ---------------------------------------------------------------------------
# Retrieval evaluation (MRR): for each probe vector, the rank of the
# first SAME-LABEL neighbor under exact cosine — the standard
# label-as-relevance retrieval metric (MRR = mean reciprocal rank)
# that gates an embedding model/index before it serves. The naive
# formulation ranks the whole corpus per probe (a corpus-sized sort in
# 5 window partitions — dead at 100 TB); the scalable identity is
# rank(c) = 1 + |{x : x ahead of c in (cosine DESC, cand_id)}|, so the
# first-hit rank needs only (a) the best same-label candidate per
# probe (an aggregate) and (b) one count of strictly-ahead candidates
# (a second aggregate) — two map-side-combined passes over broadcast-
# probe scores, no global sort at all. The oracle states the SAME rank
# via ROW_NUMBER, proving the identity. Ties are impossible to get
# wrong: ordering is (cosine DESC, cand_id ASC) in both.
# ---------------------------------------------------------------------------

def _float_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact float-cosine scores of every corpus vector against each
    probe (query_id, cand_id, cosine[, true_label]) — the broadcast-
    probe pass shared by the MRR report and the quantization rank-
    fidelity report (the float twin of _quantized_scored)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = (emb.withColumn("vec", F.expr(sim.as_double_array("embedding")))
         .withColumn("norm", F.sqrt(sim.dot_expr("vec", "vec")))
         .select("vec_id", "label", "vec", "norm"))
    probes = (v.where(F.col("vec_id") < _N_QUERIES)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("label").alias("true_label"),
                      F.col("vec").alias("qvec"),
                      F.col("norm").alias("qnorm")))
    return (v.join(F.broadcast(probes),
                   F.col("vec_id") != F.col("query_id"))
            .select("query_id", "true_label",
                    F.col("vec_id").alias("cand_id"),
                    F.col("label").alias("cand_label"),
                    (sim.dot_expr("qvec", "vec")
                     / (F.col("qnorm") * F.col("norm"))).alias("cosine")))


@register(
    "sim_label_retrieval_mrr",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.vec_id AS cand_id, c.label AS cand_label,
               list_dot_product(q.vec, c.vec) / (q.norm * c.norm) AS cosine
        FROM v q JOIN v c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    ranked AS (
        SELECT query_id, true_label, cand_id, cand_label, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(true_label AS INTEGER) AS true_label,
           CAST(MIN(rnk) AS BIGINT) AS first_hit_rank,
           1.0 / CAST(MIN(rnk) AS DOUBLE) AS reciprocal_rank
    FROM ranked WHERE cand_label = true_label
    GROUP BY query_id, true_label
    """,
    doc="retrieval eval: rank of the first same-label neighbor per "
        "probe under exact cosine (label-as-relevance MRR) — computed "
        "by the count-better identity (best same-label aggregate + one "
        "strictly-ahead count), never a corpus-wide per-probe sort; "
        "oracle restates the same rank via ROW_NUMBER",
)
def sim_label_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _float_scored(spark, sf_dir)
    # best same-label candidate per probe: max (cosine, then lowest id)
    best = (scored.where(F.col("cand_label") == F.col("true_label"))
            .groupBy("query_id", "true_label")
            .agg(F.max(F.struct(F.col("cosine"),
                                (-F.col("cand_id")).alias("nid")))
                 .alias("b"))
            .select("query_id", "true_label",
                    F.col("b.cosine").alias("best_cos"),
                    (-F.col("b.nid")).alias("best_id")))
    # strictly-ahead count under (cosine DESC, cand_id ASC)
    joined = scored.join(F.broadcast(best.select(
        F.col("query_id").alias("bq"), "best_cos", "best_id")),
        F.col("query_id") == F.col("bq"))
    ahead = ((F.col("cosine") > F.col("best_cos"))
             | ((F.col("cosine") == F.col("best_cos"))
                & (F.col("cand_id") < F.col("best_id"))))
    n_better = (joined.groupBy("query_id")
                .agg(F.sum(F.when(ahead, 1).otherwise(0)).cast("bigint")
                     .alias("n_better")))
    return (best.join(n_better, "query_id")
            .select("query_id",
                    F.col("true_label").cast("int").alias("true_label"),
                    (F.col("n_better") + 1).cast("bigint")
                    .alias("first_hit_rank"),
                    (F.lit(1.0) / (F.col("n_better") + 1).cast("double"))
                    .alias("reciprocal_rank")))


# ---------------------------------------------------------------------------
# Quantization RANK fidelity (round 12): recall@k says whether the
# int8 store returns the same SET as exact float retrieval;
# Kendall-tau over the exact top-20 says whether it returns the same
# ORDER — the metric that decides if the quantized index can serve
# final rankings or must feed a re-ranker. Concordant/discordant are
# exact integer pair counts between the two deterministic rankings
# (both tie-broken by cand_id), so the whole report value-hashes; the
# only data-scale work is the two scored passes the oracled topk
# queries already do, and the pair join is 20x20 per probe — bounded.
# ---------------------------------------------------------------------------

_FIDELITY_K = 20


@register(
    "sim_quantization_rank_fidelity",
    bench=True,
    oracle=f"""
    WITH {_QUANT_CTE},
    fv AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    fscored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               list_dot_product(a.vec, b.vec) / (a.norm * b.norm) AS cosine
        FROM fv a JOIN fv b ON a.vec_id != b.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    ),
    etop AS (
        SELECT query_id, cand_id, rnk AS re FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id) AS rnk
            FROM fscored
        ) t WHERE rnk <= {_FIDELITY_K}
    ),
    qr AS (
        SELECT e.query_id, e.re,
               ROW_NUMBER() OVER (PARTITION BY e.query_id
                                  ORDER BY q.cosine_q DESC, e.cand_id)
                   AS rq
        FROM etop e JOIN qscored q
          ON q.query_id = e.query_id AND q.cand_id = e.cand_id
    ),
    pairs AS (
        SELECT a.query_id,
               CASE WHEN b.rq > a.rq THEN 1 ELSE 0 END AS conc
        FROM qr a JOIN qr b
          ON a.query_id = b.query_id AND a.re < b.re
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
           (2.0 * SUM(conc) - COUNT(*)) / COUNT(*) AS kendall_tau
    FROM pairs GROUP BY query_id
    """,
    doc="Kendall-tau rank fidelity of int8-quantized retrieval vs "
        "exact float cosine over each probe's exact top-20: integer "
        "concordant/discordant pair counts between the two "
        "deterministic rankings — does the 4x-smaller store preserve "
        "ORDER, not just set membership (pairs with "
        "sim_quantized_recall); bounded 20x20 pair join per probe",
)
def sim_quantization_rank_fidelity(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _float_scored(spark, sf_dir)
    we = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("cand_id"))
    etop = (scored.withColumn("re", F.row_number().over(we))
            .where(F.col("re") <= _FIDELITY_K)
            .select("query_id", "cand_id", "re"))
    q = _quantized_scored(spark, sf_dir)
    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine_q"),
                                                F.asc("cand_id"))
    qr = (etop.join(q, ["query_id", "cand_id"])
          .withColumn("rq", F.row_number().over(wq))
          .select("query_id", "re", "rq"))
    a, b = qr.alias("a"), qr.alias("b")
    pairs = (a.join(F.broadcast(b),
                    (F.col("a.query_id") == F.col("b.query_id"))
                    & (F.col("a.re") < F.col("b.re")))
             .select(F.col("a.query_id").alias("query_id"),
                     F.when(F.col("b.rq") > F.col("a.rq"), 1)
                     .otherwise(0).alias("conc")))
    return (pairs.groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.sum("conc").cast("bigint").alias("concordant"))
            .select("query_id", "n_pairs", "concordant",
                    (F.col("n_pairs") - F.col("concordant"))
                    .cast("bigint").alias("discordant"),
                    ((2.0 * F.col("concordant") - F.col("n_pairs"))
                     / F.col("n_pairs")).alias("kendall_tau")))


@register(
    "sim_quantized_l2_histogram",
    oracle=f"""
    WITH
    v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    s AS (
        SELECT vec_id, vec,
               greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0,
                        1e-30) AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id,
               list_transform(vec, x -> FLOOR(x / scale + 0.5)) AS qv
        FROM s
    ),
    qq AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(qv, qv) AS BIGINT) AS sq
        FROM q
    ),
    d AS (
        SELECT CAST(a.sq + b.sq
                    - 2 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                    AS BIGINT) AS dist_sq
        FROM qq a JOIN qq b ON a.vec_id != b.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    )
    SELECT CAST(CASE WHEN dist_sq <= 0 THEN 0
                     ELSE length(bin(dist_sq)) END AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(dist_sq) AS BIGINT) AS total_dist_sq
    FROM d GROUP BY 1
    """,
    doc="octave-banded histogram of EXACT integer squared L2 distances "
        "between the int8-quantized probe vectors and the whole "
        "corpus (|q|<=127, dim 64 -> every distance < 2^23, so the "
        "double-held arithmetic is exact and engine-order-independent "
        "in both engines): the geometry-spread evidence behind the "
        "IVF nprobe and LSH band choices, from the same stored "
        "quantized corpus the retrieval family serves; probes "
        "broadcast, corpus scanned once, bounded <=24-band output",
)
def sim_quantized_l2_histogram(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    d = _quantized_corpus(spark, sf_dir)
    qq = d.select("vec_id", "qv",
                  sim.dot_expr("qv", "qv").cast("bigint").alias("sq"))
    probes = (qq.where(F.col("vec_id") < _N_QUERIES)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("qv").alias("qv_q"),
                      F.col("sq").alias("sq_q")))
    dist = (qq.join(F.broadcast(probes),
                    F.col("vec_id") != F.col("query_id"))
            .select((F.col("sq_q") + F.col("sq")
                     - 2 * sim.dot_expr("qv_q", "qv").cast("bigint"))
                    .cast("bigint").alias("dist_sq")))
    return (dist.groupBy(F.when(F.col("dist_sq") <= 0, F.lit(0))
                         .otherwise(F.length(F.bin(F.col("dist_sq"))))
                         .cast("int").alias("band"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.sum("dist_sq").cast("bigint").alias("total_dist_sq")))


# ---------------------------------------------------------------------------
# IVF posting-list balance census (round 14): the serving-cost story
# of an IVF index is its cluster-size distribution — a hot posting
# list makes every probe that lands on it pay the whole hot list (the
# skew twin of the LSH bucket census on the dedup side). This reports
# the trained index's per-cluster population with exact integer share
# ppm: the evidence behind nprobe choices and whether the index needs
# re-training or list-splitting before the next corpus doubling.
# Reads the memoized trained index (warm read, like every IVF
# consumer); k-row bounded output.
# ---------------------------------------------------------------------------

@register(
    "sim_ivf_balance_census",
    oracle=f"""
    {_fp_kmeans_ctes(_IVF_K, _IVF_ITERS, final_update=False)},
    sizes AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM a{_IVF_ITERS} GROUP BY cid
    ),
    tot AS (SELECT SUM(n_vectors) AS n FROM sizes)
    SELECT CAST(s.cid AS BIGINT) AS cid, s.n_vectors,
           CAST((1000000 * s.n_vectors) // t.n AS BIGINT) AS share_ppm
    FROM sizes s, tot t
    """,
    doc="posting-list balance census of the trained fixed-point IVF "
        "index: per-cluster vector count and exact integer share ppm "
        "— the probe-cost skew evidence behind nprobe and list-split "
        "decisions (a hot list is paid by every probe that lands on "
        "it); warm read of the memoized index, k-row bounded output",
)
def sim_ivf_balance_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assign = _kmeans_index(emb, "ivf")["assign"]
    sizes = assign.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    tot = sizes.agg(F.sum("n_vectors").cast("bigint").alias("_n"))
    return (sizes.crossJoin(F.broadcast(tot))
            .select(F.col("cid").cast("bigint").alias("cid"),
                    "n_vectors",
                    F.expr("(1000000 * n_vectors) div _n")
                    .cast("bigint").alias("share_ppm")))


# ---------------------------------------------------------------------------
# The trained-index memo. Every fixed-point Lloyd config in this module
# — the IVF index, the incremental IVF's base-corpus index, SemDeDup's
# clusters and the PQ codebooks — trains side by side in ONE loop over
# the corpus's fixed-point table, keyed by config id, so each Lloyd
# iteration runs one join and one groupBy for all of them (operator
# fusion, ICDE 2025; PAPERS.md). The result is a persistent artifact
# trained once per corpus and served to every query (REPOSE, ICDE
# 2021), stored through durable_memo as tag `kmeans_index` with parts
# cents (cfg, sub, cid, dim, cq) and assign (cfg, sub, vec_id, cid),
# where cfg is the config's position in _LLOYD; with
# $SPARK_GRAFT_MEMO_DIR set it persists as fingerprint-guarded
# snapshot tables. Each config's slice is bit-identical to its DuckDB
# chain (_fp_kmeans_ctes, _pq_oracle).
# ---------------------------------------------------------------------------

# (cfg, k, iters, train_pred, subspaces). k None is SemDeDup's
# corpus-derived k (_sd_k). A train_pred restricts training to the
# vectors it admits and seeds on the k lowest such ids, as the
# oracle's train_pred does; without one the seeds are vec_id < k. A
# config with m subspaces trains k centroids per block of DIM / m
# dims: sub = (dim - 1) div (DIM / m), always 0 when m is 1.
_LLOYD = (
    ("ivf", _IVF_K, _IVF_ITERS, None, 1),
    ("ivf_base", _IVF_K, _IVF_ITERS, _INC_BASE_PRED, 1),
    ("semdedup", None, _SD_ITERS, None, 1),
    ("pq", _PQ_K, _PQ_ITERS, None, _PQ_M),
)


def _kmeans_index(emb: DataFrame, cfg: str) -> dict:
    """One config's slice of the trained-index memo: {v, varr} (the
    corpus's fixed-point table) plus cents (cid, dim, cq) and assign
    (vec_id, cid) — the centroids after the config's last iteration
    and its last assignment. PQ keeps `sub` in both parts: they are
    its codebooks and its corpus codes."""
    from iq_to_hdl_migration_spark.sources.memo import durable_memo

    table = _fp_table(emb)
    # "p4" stamps the part layout (every config in one cents/assign
    # pair, keyed by cfg): a persisted per-config index misses
    idx = durable_memo("kmeans_index", emb.sparkSession, "", emb,
                       lambda: _lloyd_train(emb, table["v"]),
                       extra=("p4", _LLOYD, _SD_K_MIN, _SD_TARGET))
    pos = [c[0] for c in _LLOYD].index(cfg)
    drop = ("cfg",) if cfg == "pq" else ("cfg", "sub")
    return {**table, **{
        part: idx[part].where(F.col("cfg") == pos).drop(*drop)
        for part in ("cents", "assign")}}


def _lloyd_train(emb: DataFrame, v: DataFrame) -> dict:
    """The one Lloyd loop — the Spark twin of _fp_kmeans_ctes and of
    _pq_oracle's pd/pa/pu/pc chain, for every _LLOYD config at once:
    iteration i joins the rows of the configs with iters >= i to the
    centroids on (cfg, dim), assigns each (vec_id, cfg, sub) its
    nearest centroid by (d2, cid), and floor-mean updates the
    centroids per (cfg, sub, cid, dim). A config that is done keeps
    its centroids through the left join and the assignment of its own
    last iteration. The centroids are sum(k) * DIM rows (broadcast);
    the per-iteration shuffle is the vec-sized dist groupBy — linear
    in the corpus, never pairwise."""
    from functools import reduce

    from pyspark.sql import Window

    def union(dfs):
        return reduce(DataFrame.unionByName, dfs)

    n = emb.count()  # SemDeDup's k; at 100 TB this is table metadata
    train, seeds = [], []
    for cfg, (_, k, iters, pred, m) in enumerate(_LLOYD):
        k = _sd_k(n) if k is None else k
        tv = (v if pred is None else v.where(pred)).select(
            F.lit(cfg).alias("cfg"),
            F.expr(f"CAST((dim - 1) div {sim.DIM // m} AS INT)")
            .alias("sub"), "vec_id", "dim", "qv")
        if pred is None:
            seed = tv.where(F.col("vec_id") < k)
        else:
            ids = (tv.select("vec_id").distinct()
                   .orderBy("vec_id").limit(k))
            seed = tv.join(F.broadcast(ids), "vec_id")
        train.append((cfg, iters, tv))
        seeds.append(seed.select("cfg", "sub",
                                 F.col("vec_id").alias("cid"), "dim",
                                 F.col("qv").alias("cq")))
    cents, assign = union(seeds), None
    for i in range(1, max(iters for _, iters, _ in train) + 1):
        live = [cfg for cfg, iters, _ in train if iters >= i]
        tv = union([t for _, iters, t in train if iters >= i])
        # (cfg, dim) fixes sub, and two INT keys pack into one long,
        # so the probe is a LongHashedRelation lookup, not a generic
        # row hash (about a third less task CPU at sf0.1 on 4 cores)
        dist = (tv.join(cents.drop("sub").hint("broadcast"),
                        ["cfg", "dim"])
                .groupBy("vec_id", "cfg", "sub", "cid")
                .agg(F.sum((F.col("qv") - F.col("cq"))
                           * (F.col("qv") - F.col("cq"))).alias("d2")))
        wa = Window.partitionBy("vec_id", "cfg", "sub").orderBy("d2", "cid")
        step = (dist.withColumn("rn", F.row_number().over(wa))
                .where(F.col("rn") == 1)
                .select("cfg", "sub", "vec_id", "cid"))
        if assign is not None:
            step = step.unionByName(assign.where(~F.col("cfg").isin(live)))
        assign = step.localCheckpoint()
        upd = (assign.join(tv, ["cfg", "sub", "vec_id"])
               .groupBy("cfg", "sub", "cid", "dim")
               .agg(F.floor(F.sum("qv").cast("double")
                            / F.count(F.lit(1)).cast("double"))
                    .cast("bigint").alias("ucq")))
        cents = (cents.join(upd, ["cfg", "sub", "cid", "dim"], "left")
                 .select("cfg", "sub", "cid", "dim",
                         F.coalesce("ucq", "cq").alias("cq"))
                 .localCheckpoint())
    return {"cents": cents, "assign": assign}


def warm_similarity_memos(spark: SparkSession, sf_dir: str) -> None:
    """Build every durable memo this module's headline queries serve
    from — the quantized corpus, the fixed-point table and the trained
    index of every Lloyd config (which trains on that table) — exactly
    as the queries themselves would on first call. Part of the
    registry-level ingest warm-up (`queries.warm.warm_all_memos`, r14
    verdict #2) so the bench's `memo_build_sec` stamp covers the FULL
    stored-structure build, not just the dedup structures."""
    _quantized_corpus(spark, sf_dir)
    _kmeans_index(load_table(spark, sf_dir, "embeddings"), "ivf")
