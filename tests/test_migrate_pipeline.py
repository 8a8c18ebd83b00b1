"""End-to-end tests for the migrate_table spine over real testdata
(SURVEY §5 plan item 2/3): extract → stage → load → verify → status,
plus fault injection asserting the V1/V2 rollback actually fires."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iq_to_hdl_migration_spark.catalog.fixture import (
    CATALOG_FIXTURE, ensure_catalog_views)
from iq_to_hdl_migration_spark.pipeline.migrate import (
    MigrationStatus, listing_reconcile, migrate_table, migrate_tables,
    reconcile)
from iq_to_hdl_migration_spark.sources.tables import load_table


@pytest.fixture()
def dirs(tmp_path):
    s, t, st = tmp_path / "staging", tmp_path / "target", tmp_path / "status"
    s.mkdir(), t.mkdir()
    return str(s), str(t), str(st)


def test_single_table_end_to_end(spark, sf_dir, dirs):
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "nation")
    out = migrate_table(spark, src, "nation", staging, target, status)
    assert out.state == "loaded" and out.expected == out.actual == 25

    reloaded = spark.read.parquet(f"{target}/nation")
    assert reloaded.count() == 25
    assert set(reloaded.columns) == set(src.columns)
    # content equality via anti-join both ways (V1 analog, exact)
    assert src.exceptAll(reloaded).isEmpty()
    assert reloaded.exceptAll(src).isEmpty()

    cur = status.current().collect()
    assert len(cur) == 1 and cur[0].state == "loaded"
    assert int(cur[0].rowcount) == 25


def test_empty_table_short_circuit(spark, dirs):
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    empty = spark.range(0).select(F.col("id").cast("int").alias("id"))
    out = migrate_table(spark, empty, "t_empty", staging, target, status)
    assert out.state == "empty"
    assert status.current().collect()[0].state == "empty"
    import os
    assert not os.path.exists(f"{target}/t_empty")  # nothing published


def test_verify_failure_rolls_back(spark, sf_dir, dirs, monkeypatch):
    """Force the staged count to mismatch -> rollback, no publish."""
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    src = load_table(spark, sf_dir, "region")

    import iq_to_hdl_migration_spark.pipeline.migrate as M
    real_publish = M._atomic_publish

    def boom(tmp, final):
        raise ValueError("injected verify failure")
    monkeypatch.setattr(M, "_atomic_publish", boom)
    out = migrate_table(spark, src, "region", staging, target, status)
    assert out.state == "failed" and "injected" in out.detail
    import os
    assert not os.path.exists(f"{staging}/region")   # tmp cleaned up
    assert not os.path.exists(f"{target}/region")    # nothing loaded
    assert status.current().collect()[0].state == "failed"

    # retry after the fault clears succeeds (failed-first path)
    monkeypatch.setattr(M, "_atomic_publish", real_publish)
    outs = migrate_tables(spark, {"region": src}, staging, target, status)
    assert outs[0].state == "loaded"


def test_resume_skips_loaded(spark, sf_dir, dirs):
    staging, target, status_path = dirs
    status = MigrationStatus(spark, status_path)
    srcs = {"nation": load_table(spark, sf_dir, "nation"),
            "region": load_table(spark, sf_dir, "region")}
    first = migrate_tables(spark, srcs, staging, target, status)
    assert {o.state for o in first} == {"loaded"}
    second = migrate_tables(spark, srcs, staging, target, status)
    assert second == []  # everything resumed as done

    inv = spark.createDataFrame([("nation",), ("region",), ("ghost",)],
                                ["table_key"])
    missing = reconcile(status, inv).collect()
    assert [r.table_key for r in missing] == ["ghost"]


def _python_rdd_free(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LogicalRDD" not in plan and "ExistingRDD" not in plan


def test_driver_side_frames_stay_in_the_jvm(spark, dirs, tmp_path):
    """Catalog views, ledger events and listings are LocalRelations: a
    frame built with createDataFrame(list) would scan a Python RDD and
    start Python-worker tasks on every use."""
    staging, target, status_path = dirs
    ensure_catalog_views(spark)
    bad = [t for t in CATALOG_FIXTURE if not _python_rdd_free(spark.table(t))]
    assert bad == []

    status = MigrationStatus(spark, status_path)
    assert _python_rdd_free(status.event("nation", "loaded", 25, 100))
    assert _python_rdd_free(status.all_events())  # no ledger yet

    (tmp_path / "staging" / "f.parquet").write_bytes(b"x")
    assert _python_rdd_free(listing_reconcile(spark, staging, target))
