"""Value-level bridges for registry entries whose semantics rest on a
second computation.

- graph_user_pagerank_top20  <-> graph_user_pagerank_fixedpoint_top20:
  the same stored fixed-point iterate, so the same rows.
- sim_ann_recall <-> recomputed exactly from its own legs (every leg
  is oracled), plus an IVF recall floor.
- sim_ivf_topk: per-query shape + determinism.
- sketch_distinct_users_daily/_rollup <-> exact countDistinct within
  the DataSketches HLL published error (lgK=14: RSE 1.04/sqrt(2^14) ~
  0.81%; we allow 3 sigma), and the rollup's n_days exactly — the
  bridge that holds past their oracle_max_sf.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from iq_to_hdl_migration_spark.operators.graph import PR_SCALE
from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.sources.tables import load_table

REG = load_all()

_HLL_REL_BOUND = 3 * 1.04 / (2 ** 14) ** 0.5  # 3 sigma at lgK=14


def test_pagerank_float_matches_fixedpoint_bridge(spark, sf_dir):
    fl = REG["graph_user_pagerank_top20"].fn(spark, sf_dir)
    fx = REG["graph_user_pagerank_fixedpoint_top20"].fn(spark, sf_dir)
    fl_rows = {r.user_id: r.rank for r in fl.collect()}
    fx_rows = {r.user_id: r.rank_q for r in fx.collect()}
    # identical top-20 membership, and each rank is its q / 2^40
    assert set(fl_rows) == set(fx_rows)
    for uid, rank in fl_rows.items():
        assert rank == fx_rows[uid] / PR_SCALE, uid


def test_ann_recall_recomputes_from_legs(spark, sf_dir):
    """sim_ann_recall's numbers must equal an independent recompute
    from the leg queries it claims to measure (brute force and both
    LSH legs are themselves DuckDB-oracled)."""
    reported = {r.method: r for r in
                REG["sim_ann_recall"].fn(spark, sf_dir).collect()}
    bf = {(r.query_id, r.cand_id) for r in
          REG["sim_bruteforce_topk"].fn(spark, sf_dir)
          .select("query_id", "cand_id").collect()}
    n_q = len({q for q, _ in bf})
    legs = {"lsh": "sim_ann_lsh_topk",
            "lsh_multiprobe": "sim_ann_multiprobe_topk",
            "ivf": "sim_ivf_topk"}
    assert set(reported) == set(legs)
    for method, leg in legs.items():
        approx = {(r.query_id, r.cand_id) for r in
                  REG[leg].fn(spark, sf_dir)
                  .select("query_id", "cand_id").collect()}
        want = len(bf & approx) / float(n_q * 5)
        got = reported[method]
        assert got.n_queries == n_q
        assert got.recall_at_5 == want, (method, got.recall_at_5, want)
    # structured corpora do better; even on i.i.d. random vectors the
    # 2-probe IVF re-rank must clear a meaningful floor (measured
    # 0.88 at sf0.001, 0.92 at sf0.01)
    assert reported["ivf"].recall_at_5 >= 0.5


def test_ivf_topk_shape_and_determinism(spark, sf_dir):
    df = REG["sim_ivf_topk"].fn(spark, sf_dir)
    rows = df.collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert len(rs) <= 5
        assert len({r.cand_id for r in rs}) == len(rs)
        assert all(r.cand_id != q for r in rs)
    # deterministic: a second run returns the identical set
    again = {(r.query_id, r.cand_id) for r in
             REG["sim_ivf_topk"].fn(spark, sf_dir).collect()}
    assert {(r.query_id, r.cand_id) for r in rows} == again


def test_hll_daily_within_published_bound(spark, sf_dir):
    est = REG["sketch_distinct_users_daily"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    exact = (ev.withColumn("day", F.to_date("ts"))
             .groupBy("day", "event_type")
             .agg(F.countDistinct("user_id").alias("exact")))
    joined = est.join(exact, ["day", "event_type"]).collect()
    assert joined, "daily estimate joined nothing against exact"
    assert len(joined) == est.count() == exact.count()
    for r in joined:
        assert abs(r.approx_users - r.exact) <= _HLL_REL_BOUND * r.exact, r


def test_hll_rollup_within_published_bound(spark, sf_dir):
    roll = REG["sketch_distinct_users_rollup"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact"),
                  F.countDistinct(F.to_date("ts")).alias("exact_days")))
    joined = roll.join(exact, "event_type").collect()
    assert joined and len(joined) == exact.count()
    for r in joined:
        # the union-merged estimate obeys the same published bound...
        assert abs(r.approx_users - r.exact) <= _HLL_REL_BOUND * r.exact, r
        # ...and the rollup's day count is exact (integer state)
        assert r.n_days == r.exact_days, r
