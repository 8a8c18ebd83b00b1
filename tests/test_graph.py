"""PageRank: the integer fixed-point trajectory's last iterate must
match a dense NumPy power iteration on the same edge list (planted
graphs + the real query's derived graph)."""

from __future__ import annotations

import numpy as np
import pytest

from iq_to_hdl_migration_spark.operators.graph import (
    PR_SCALE, pagerank_fixedpoint_trajectory)


def _numpy_pagerank(edges, iters=10, damping=0.85):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, d, w in edges:
        M[idx[d], idx[s]] += w
    col = M.sum(axis=0)
    dangling = col == 0
    M[:, ~dangling] /= col[~dangling]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = r[dangling].sum() / n
        r = (1 - damping) / n + damping * (M @ r + dm)
    return {v: r[idx[v]] for v in nodes}


@pytest.mark.parametrize("edges", [
    [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)],                  # cycle
    [(1, 2, 1.0), (1, 3, 3.0), (2, 3, 1.0), (4, 1, 1.0)],     # weighted+dangling(3)
    [(1, 2, 2.0), (2, 1, 1.0), (3, 3, 1.0)],                  # self-loop comp
])
def test_pagerank_matches_numpy(spark, edges):
    # integer weights, so the fixed-point run differs from the float
    # recurrence only by its 2^-40 floor dust
    df = spark.createDataFrame(edges, "src int, dst int, weight double")
    last = pagerank_fixedpoint_trajectory(df, iters=10)[-1]
    got = {r["node"]: r["q"] / PR_SCALE for r in last.collect()}
    want = _numpy_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_user_pagerank_query(spark, sf_dir):
    from iq_to_hdl_migration_spark.queries import load_all

    rows = load_all()["graph_user_pagerank_top20"].fn(
        spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)


def test_fixedpoint_pagerank_tracks_float_pagerank(spark, sf_dir):
    """graph_user_pagerank_top20 reports rank = q / 2^40 of the same
    stored integer fixed-point iterate as the fixed-point top-20, so
    both return the same users in the same order with equal ranks."""
    from iq_to_hdl_migration_spark.queries import load_all

    reg = load_all()
    fx = [(r.user_id, r.rank_q / PR_SCALE) for r in
          reg["graph_user_pagerank_fixedpoint_top20"].fn(
              spark, sf_dir).orderBy("rank_q", "user_id").collect()]
    fl = [(r.user_id, r.rank) for r in
          reg["graph_user_pagerank_top20"].fn(
              spark, sf_dir).orderBy("rank", "user_id").collect()]
    assert 0 < len(fl) <= 20
    assert fx == fl


def test_kcore_delta_census_matches_bruteforce(spark):
    """Delta peeling (deg_{i+1}(v) = deg_i(v) - |nbrs(v) ∩ dropped_i|)
    must census exactly like brute-force induced-subgraph
    recomputation, including a round that empties the core (the
    SUM-over-empty edge count must be 0, not NULL)."""
    from iq_to_hdl_migration_spark.queries.sequence_queries import (
        kcore_delta_census)

    # K4 clique (1-4) + a path 4-5-6 + isolated edge 7-8.
    # With k=3: round 1 drops 5,6,7,8 -> K4 survives (deg 3 each);
    # round 2 drops nothing; with k=4 the core then empties.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (7, 8)]

    def brute(edges, k, rounds):
        # mirrors the oracle exactly: nd_i is the FILTERED NODE SET
        # (it may keep nodes isolated by the round's edge drops),
        # ee_i the induced edges
        out = []
        cur = list(edges)
        nodes = {n for e in edges for n in e}
        for i in range(rounds + 1):
            out.append((i, len(nodes), len(cur)))
            deg = {n: 0 for n in nodes}
            for u, v in cur:
                deg[u] += 1
                deg[v] += 1
            nodes = {n for n in nodes if deg[n] >= k}
            cur = [e for e in cur if e[0] in nodes and e[1] in nodes]
        return out

    oe = spark.createDataFrame(edges, "a bigint, b bigint")
    deg0 = (oe.selectExpr("explode(array(a, b)) AS node")
            .groupBy("node").count().withColumnRenamed("count", "d"))
    for k in (3, 4):
        got = sorted(tuple(r) for r in
                     kcore_delta_census(oe, deg0, k, 3).collect())
        want = sorted(brute(edges, k, 3))
        assert got == want, (k, got, want)
