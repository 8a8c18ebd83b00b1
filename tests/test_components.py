"""Connected components: planted-graph correctness."""

from __future__ import annotations

from iq_to_hdl_migration_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df).collect()
    return {r.id: r.component for r in rows}


def test_chain_star_and_disjoint(spark):
    # chain 1-2-3-4, star 10-(11,12,13), disjoint pair 20-21
    comp = _cc(spark, [(1, 2), (2, 3), (3, 4),
                       (10, 11), (10, 12), (10, 13),
                       (20, 21)])
    assert {comp[i] for i in (1, 2, 3, 4)} == {1}
    assert {comp[i] for i in (10, 11, 12, 13)} == {10}
    assert {comp[i] for i in (20, 21)} == {20}


def test_long_chain_converges(spark):
    # diameter 12 chain — exercises multiple propagation rounds
    comp = _cc(spark, [(i, i + 1) for i in range(100, 112)])
    assert set(comp.values()) == {100}
    assert len(comp) == 13


def test_bridged_clusters_merge(spark):
    comp = _cc(spark, [(1, 2), (3, 4), (2, 3)])
    assert set(comp.values()) == {1}
