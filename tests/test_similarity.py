"""Semantic tests for ANN operators: brute force, the LSH probe, the
exact re-rank and the fixed-point k-means index they serve from."""

from __future__ import annotations

import math

import pytest
import pyspark.sql.functions as F

from iq_to_hdl_migration_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from iq_to_hdl_migration_spark.sources.tables import load_table
    return load_table(spark, sf_dir, "embeddings")


def test_bruteforce_topk_matches_numpy(emb, spark):
    import numpy as np

    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    out = sim.brute_force_topk(emb, emb.where(F.col("vec_id") < 2), k=3)
    got = {(r.query_id, r.rnk): (r.cand_id, r.cosine) for r in out.collect()}
    for qid in (0, 1):
        q = rows[qid]
        sims = sorted(
            ((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), -cid)
             for cid, v in rows.items() if cid != qid),
            reverse=True)
        for rnk in (1, 2, 3):
            cand_id, cosine = got[(qid, rnk)]
            exp_sim, neg_cid = sims[rnk - 1]
            assert cand_id == -neg_cid
            assert math.isclose(cosine, exp_sim, rel_tol=1e-9)


def test_ann_probe_candidates_share_a_bucket(emb):
    out = sim.ann_lsh_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    rows = out.collect()
    assert len(rows) > 0
    codes = {r.vec_id: set(r.codes) for r in
             sim.with_table_codes(emb, "embedding").collect()}
    # candidates must collide with the query in >= 1 hash table... but
    # table_idx matters: recompute exact membership
    memb = {}
    for r in sim.exploded_buckets(
            emb.select(F.col("vec_id").alias("id"),
                       F.col("embedding").alias("cemb")), "cemb").collect():
        memb.setdefault(r.id, set()).add((r.table_idx, r.code))
    for r in rows:
        assert memb[r.query_id] & memb[r.cand_id], (
            f"{r.query_id},{r.cand_id} share no bucket")
        assert 1 <= r.rnk <= 5
        assert r.query_id != r.cand_id


def test_embedding_near_dup_finds_planted_duplicate(spark, emb):
    # plant an exact copy of vec 0 with id 9001 and a noisy near-copy
    base = emb.where(F.col("vec_id") == 0).collect()[0]
    near = [v + (0.001 if i % 2 else -0.001)
            for i, v in enumerate(base.embedding)]
    extra = spark.createDataFrame(
        [(9001, base.embedding, 0), (9002, near, 0)],
        schema=emb.schema)
    corpus = emb.unionByName(extra)
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in sim.embedding_near_dup_pairs(corpus, 0.9).collect()}
    assert (0, 9001) in pairs and pairs[(0, 9001)] > 0.9999
    assert (0, 9002) in pairs  # near-copy also collides + passes verify


def test_ivf_topk_recall_vs_bruteforce(spark, emb):
    """The exact re-rank of the stored IVF lists: over every pair it is
    brute force row for row; over 3 probed lists it returns k results
    per query with brute force's cosines."""
    from iq_to_hdl_migration_spark.queries.similarity_queries import (
        _ivf_candidates, _kmeans_index)

    queries = emb.where(F.col("vec_id") < 5)
    bf = sim.brute_force_topk(emb, queries, k=5)
    every = (queries.select(F.col("vec_id").alias("query_id"))
             .crossJoin(emb.select(F.col("vec_id").alias("cand_id")))
             .where(F.col("query_id") != F.col("cand_id")))
    assert (sorted(sim.rerank_topk(emb, queries, every, k=5).collect())
            == sorted(bf.collect()))
    cands = _ivf_candidates(_kmeans_index(emb, "ivf"), 3)
    ivf = sim.rerank_topk(emb, queries, cands, k=5)
    ivf_sets, bf_sets = {}, {}
    for r in ivf.collect():
        ivf_sets.setdefault(r.query_id, set()).add(r.cand_id)
    for r in bf.collect():
        bf_sets.setdefault(r.query_id, set()).add(r.cand_id)
    # every query returns k results; recall vs exact top-5 >= 20% on
    # random vectors (ANN trades recall for the 3/8 scan)
    recalls = [len(ivf_sets[q] & bf_sets[q]) / 5 for q in bf_sets]
    assert all(len(ivf_sets[q]) == 5 for q in bf_sets)
    assert sum(recalls) / len(recalls) >= 0.2


def test_bucket_codes_in_range(emb):
    rows = sim.with_table_codes(emb, "embedding").collect()
    for r in rows:
        assert len(r.codes) == sim.N_TABLES
        assert all(0 <= c < (1 << sim.BITS_PER_TABLE) for c in r.codes)


def test_ann_recall_query_reports_both_methods(spark, sf_dir):
    from iq_to_hdl_migration_spark.queries import load_all

    rows = {r["method"]: r for r in
            load_all()["sim_ann_recall"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "lsh_multiprobe", "ivf"}
    # IVF(nprobe=2) must stay a usable approximation even on
    # structureless random vectors; LSH single-probe just has to be
    # measured (its low recall here IS the documented worst case).
    assert rows["ivf"]["recall_at_5"] >= 0.5
    assert 0.0 <= rows["lsh"]["recall_at_5"] <= 1.0
    # Hamming-1 probe expansion must materially beat single-probe
    assert (rows["lsh_multiprobe"]["recall_at_5"]
            >= rows["lsh"]["recall_at_5"] + 0.1)
    assert rows["ivf"]["n_queries"] > 0


def test_ivf_fixedpoint_recall_reasonable(spark, sf_dir):
    """The integer IVF must behave like an ANN index, not noise:
    2-of-8-probe recall@5 vs exact integer L2 over the same quantized
    vectors should recover at least half the true neighbors on this
    corpus (the float IVF test asserts the same envelope)."""
    from iq_to_hdl_migration_spark.queries import load_all

    got = {}
    for r in load_all()["sim_ivf_fixedpoint_topk"].fn(
            spark, sf_dir).collect():
        got.setdefault(r.query_id, set()).add(r.cand_id)
    # exact integer-L2 reference, computed locally
    import numpy as np
    emb = {r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64)
                              * 1048576.0)
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding").collect()}
    hits = total = 0
    for q in got:
        dists = sorted(
            (float(np.sum((emb[q] - v) ** 2)), cid)
            for cid, v in emb.items() if cid != q)
        true5 = {cid for _, cid in dists[:5]}
        hits += len(true5 & got[q])
        total += 5
    assert hits / total >= 0.5, (hits, total)


def test_similarity_ingest_builds_one_fixedpoint_table(spark, sf_dir,
                                                       monkeypatch):
    """From a cold memo, the similarity ingest explodes the embeddings
    to per-dim fixed-point rows ONCE: every Lloyd config (the three
    k-means configs and the PQ codebooks) trains on the same stored
    table."""
    from iq_to_hdl_migration_spark.queries.similarity_queries import (
        warm_similarity_memos)
    from iq_to_hdl_migration_spark.sources import memo

    monkeypatch.delenv("SPARK_GRAFT_MEMO_DIR", raising=False)
    for tag in ("fixedpoint_table", "kmeans_index"):
        memo._MEMOS.pop(tag, None)
    explodes = []
    real = F.posexplode
    monkeypatch.setattr(
        F, "posexplode", lambda *a: explodes.append(1) or real(*a))
    warm_similarity_memos(spark, sf_dir)
    assert explodes == [1]


def test_similarity_ingest_trains_every_config_in_one_loop(
        spark, sf_dir, monkeypatch):
    """From a cold memo, the similarity ingest checkpoints 3 times for
    the quantized corpus and the fixed-point table, then twice per
    Lloyd iteration of ONE loop that trains every config side by side
    (max iters = 3) — not once per config and iteration (23 in all)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from iq_to_hdl_migration_spark.queries.similarity_queries import (
        warm_similarity_memos)
    from iq_to_hdl_migration_spark.sources import memo

    monkeypatch.delenv("SPARK_GRAFT_MEMO_DIR", raising=False)
    for tag in ("quantized_corpus", "fixedpoint_table", "kmeans_index"):
        memo._MEMOS.pop(tag, None)
    eager = []
    real = CDF.localCheckpoint

    def spy(self, *a, **k):
        eager.append(a[0] if a else k.get("eager", True))
        return real(self, *a, **k)

    monkeypatch.setattr(CDF, "localCheckpoint", spy)
    warm_similarity_memos(spark, sf_dir)
    assert sum(eager) <= 3 + 2 * 3 + 1, eager
