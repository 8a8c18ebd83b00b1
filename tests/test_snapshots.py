"""Snapshot table layer: time travel, vacuum reclaiming only
unreferenced files, and fail-closed guards."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from iq_to_hdl_migration_spark.sources.snapshots import (
    current_version, read_snapshot, vacuum, versions, write_snapshot)
from iq_to_hdl_migration_spark.sources.tables import load_table


def _nations(spark, sf_dir, lo, hi):
    return (load_table(spark, sf_dir, "nation")
            .where(F.col("n_nationkey").between(lo, hi))
            .select("n_nationkey", "n_name"))


def test_append_overwrite_and_time_travel(spark, sf_dir, tmp_path):
    tdir = str(tmp_path / "tbl")
    v1 = write_snapshot(_nations(spark, sf_dir, 0, 9), tdir)
    v2 = write_snapshot(_nations(spark, sf_dir, 10, 14), tdir)
    assert (v1, v2) == (1, 2)

    # latest = union of both commits; v1 still reads the original 10
    assert read_snapshot(spark, tdir).count() == 15
    assert read_snapshot(spark, tdir, version=1).count() == 10

    # overwrite starts fresh; history intact
    v3 = write_snapshot(_nations(spark, sf_dir, 20, 24), tdir,
                        mode="overwrite")
    assert read_snapshot(spark, tdir).count() == 5
    assert read_snapshot(spark, tdir, version=2).count() == 15
    assert v3 == 3 and current_version(tdir) == 3  # linear history


def test_manifest_rowcounts_audited(spark, sf_dir, tmp_path):
    tdir = str(tmp_path / "tbl")
    write_snapshot(_nations(spark, sf_dir, 0, 9), tdir)
    write_snapshot(_nations(spark, sf_dir, 10, 14), tdir)
    assert [m["n_rows"] for m in versions(tdir)] == [10, 15]


def test_vacuum_reclaims_only_unreferenced(spark, sf_dir, tmp_path):
    tdir = str(tmp_path / "tbl")
    write_snapshot(_nations(spark, sf_dir, 0, 9), tdir)       # v1
    write_snapshot(_nations(spark, sf_dir, 10, 14), tdir)     # v2 = v1+delta
    write_snapshot(_nations(spark, sf_dir, 20, 24), tdir,
                   mode="overwrite")                          # v3 fresh
    write_snapshot(_nations(spark, sf_dir, 15, 19), tdir)     # v4 = v3+delta

    stats = vacuum(tdir, keep_last=2)
    # v1/v2 manifests dropped; v1+v2 data files are unreferenced by
    # v3/v4 and must be reclaimed
    assert stats["n_manifests_dropped"] == 2
    assert stats["n_files_deleted"] > 0 and stats["n_bytes_freed"] > 0
    assert [m["version"] for m in versions(tdir)] == [3, 4]
    # retained versions still read correctly after the vacuum
    assert read_snapshot(spark, tdir, version=3).count() == 5
    assert read_snapshot(spark, tdir, version=4).count() == 10
    # expired history is gone (that's the trade)
    with pytest.raises(ValueError):
        read_snapshot(spark, tdir, version=1)


def test_guards(spark, sf_dir, tmp_path):
    tdir = str(tmp_path / "tbl")
    write_snapshot(_nations(spark, sf_dir, 0, 4), tdir)
    # schema drift fails closed
    with pytest.raises(ValueError, match="schema mismatch"):
        write_snapshot(
            _nations(spark, sf_dir, 0, 4).withColumn("x", F.lit(1)), tdir)
    # non-local manifest URIs fail with a clear error
    with pytest.raises(ValueError, match="driver-local"):
        write_snapshot(_nations(spark, sf_dir, 0, 4), "s3a://bkt/tbl")
    # unknown version
    with pytest.raises(ValueError, match="no snapshot v9"):
        read_snapshot(spark, tdir, version=9)


def test_snapshot_diff_is_a_cdc_feed(spark, sf_dir, tmp_path):
    """diff(v1, v2) of an append is exactly the appended batch; an
    overwrite shows up as inserts of the new content + deletes of the
    old — snapshots + diff compose into a change feed."""
    from iq_to_hdl_migration_spark.sources.snapshots import diff_snapshots

    tdir = str(tmp_path / "tbl")
    write_snapshot(_nations(spark, sf_dir, 0, 9), tdir)          # v1
    write_snapshot(_nations(spark, sf_dir, 10, 14), tdir)        # v2
    d12 = diff_snapshots(spark, tdir, 1, 2)
    assert d12.where("_change = 'delete'").count() == 0
    got = sorted(r.n_nationkey
                 for r in d12.where("_change = 'insert'").collect())
    assert got == list(range(10, 15))

    write_snapshot(_nations(spark, sf_dir, 20, 24), tdir,
                   mode="overwrite")                             # v3
    d23 = diff_snapshots(spark, tdir, 2, 3)
    assert d23.where("_change = 'insert'").count() == 5
    assert d23.where("_change = 'delete'").count() == 15


def test_diff_manifest_fast_path_matches_exceptall(spark, sf_dir,
                                                   tmp_path):
    """The round-14 manifest-delta CDC path: an append-chain diff reads
    only the delta files (no exceptAll anywhere in the plan) and is
    multiset-identical to the general exceptAll diff — including when
    the appended batch duplicates rows already present."""
    from iq_to_hdl_migration_spark.sources.snapshots import (
        diff_snapshots, read_snapshot)

    tdir = str(tmp_path / "tbl")
    write_snapshot(_nations(spark, sf_dir, 0, 9), tdir)           # v1
    # v2 appends a batch that DUPLICATES keys 5..9 (multiset case)
    write_snapshot(_nations(spark, sf_dir, 5, 14), tdir)          # v2

    d12 = diff_snapshots(spark, tdir, 1, 2)
    plan = d12._jdf.queryExecution().executedPlan().toString()
    assert "Except" not in plan, "append diff must be manifest-only"

    # multiset-exact vs the general path computed directly
    new_df = read_snapshot(spark, tdir, 2)
    old_df = read_snapshot(spark, tdir, 1)
    want_ins = sorted(r.n_nationkey
                      for r in new_df.exceptAll(old_df).collect())
    got_ins = sorted(r.n_nationkey for r in
                     d12.where("_change = 'insert'").collect())
    assert got_ins == want_ins == list(range(5, 15))
    assert d12.where("_change = 'delete'").count() == 0

    # diffing back to v1 exposes a SUBSET of v2's files: deletes only,
    # still manifest-only
    d21 = diff_snapshots(spark, tdir, 2, 1)
    plan21 = d21._jdf.queryExecution().executedPlan().toString()
    assert "Except" not in plan21
    assert d21.where("_change = 'insert'").count() == 0
    assert sorted(r.n_nationkey for r in
                  d21.where("_change = 'delete'").collect()) \
        == list(range(5, 15))
