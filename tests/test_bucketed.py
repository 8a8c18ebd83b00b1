"""Bucketed staging: the co-located fact-join path
(`bucketed_colocated_join_revenue`) must be shuffle-free and produce
the same answer as the plain-parquet join."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.queries.skew_queries import _agg
from iq_to_hdl_migration_spark.sources.bucketed import stage_bucketed
from iq_to_hdl_migration_spark.sources.tables import load_table


def _bucketed_revenue(spark, sf_dir):
    return load_all()["bucketed_colocated_join_revenue"].fn(spark, sf_dir)


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # at test scale Catalyst would broadcast the join (also fine, also
    # shuffle-free, but trivially so); disable broadcast to prove the
    # 100 TB path — a sort-merge join fed directly by bucketed scans
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = _bucketed_revenue(spark, sf_dir)
        # AQE's toString shows Final + Initial plans; judge the final
        plan = _executed_plan(out).split("== Initial Plan ==")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SelectedBucketsCount: 16 out of 16" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # exactly one exchange allowed: the final tiny rollup on
    # o_orderpriority; the join itself must carry none
    join_section = plan.split("HashAggregate")[-1]
    assert "Exchange" not in join_section, (
        "bucketed join should not shuffle:\n" + join_section[:2000])
    n_exchanges = len(re.findall(r"\bExchange\b", plan))
    assert n_exchanges <= 1, f"expected <=1 exchange, saw {n_exchanges}"


def test_bucketed_join_matches_plain_join(spark, sf_dir):
    got = {r.o_orderpriority: (r.revenue, r.n_items)
           for r in _bucketed_revenue(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    want = {r.o_orderpriority: (r.revenue, r.n_items)
            for r in _agg(orders.join(
                li, F.col("o_orderkey") == F.col("l_orderkey"))).collect()}
    assert got == want and len(got) > 0


def test_restage_is_idempotent(spark, sf_dir):
    first = stage_bucketed(spark, sf_dir)
    second = stage_bucketed(spark, sf_dir)
    assert first == second
    for name in second:
        assert spark.catalog.tableExists(name)


def test_stale_staging_is_rebuilt(spark, sf_dir):
    """If the staged files diverge from the (possibly regenerated)
    source — simulated by deleting one bucket file — the staged-side
    fingerprint catches it and the table is restaged, not reused."""
    import glob
    import os

    from iq_to_hdl_migration_spark.sources.tables import load_table

    name = stage_bucketed(spark, sf_dir)[0]
    table = "orders" if "orders" in name else "lineitem"
    want = load_table(spark, sf_dir, table).count()

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    victim = sorted(glob.glob(os.path.join(wh, name, "*.parquet")))[0]
    os.remove(victim)
    spark.catalog.refreshTable(name)
    assert spark.table(name).count() < want  # corruption took effect

    assert name in stage_bucketed(spark, sf_dir)
    assert spark.table(name).count() == want
