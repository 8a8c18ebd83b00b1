"""Snapshot-table (lakehouse layer) queries: drive the versioned
table store in `sources/snapshots.py` end-to-end — commit a history
(overwrite -> append -> corrective overwrite) over the orders table,
then answer from the MANIFESTS and the CDC diff between versions.

The staged history is fully determined by the source table, so every
output is oracle-expressible straight from `orders`:

    v1  overwrite  orders with o_orderdate <  1997-01-01
    v2  append     orders with o_orderdate >= 1997-01-01   (= all rows)
    v3  overwrite  orders minus the 1-URGENT rows          (correction)

100 TB notes: commits are per-delta parquet writes plus an O(1)
manifest; vacuum is the only file deletion; the CDC diff
(exceptAll) hashes full rows and shuffles once per side — at scale
you diff a partition's snapshots, not the whole table (see
sources/snapshots.py docstring).
The reference has no table-versioning layer (its checkpoint ledger,
SURVEY §2 S14 / Migration/migration.py status table, tracks progress
only); this is part of the beyond-reference lakehouse surface.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.sources import snapshots as snap
from iq_to_hdl_migration_spark.sources.bucketed import _source_fingerprint
from iq_to_hdl_migration_spark.sources.memo import session_memo
from iq_to_hdl_migration_spark.sources.tables import load_table

_CUT = "1997-01-01"
_TP = "CAST(o_totalprice AS DECIMAL(14,2))"


def _staged_history(spark: SparkSession, sf_dir: str) -> str:
    """Directory of the committed v1..v3 history of `orders`, staged
    once per corpus through the session memo: its source fingerprint
    key makes a mid-session rewrite of sf_dir restage instead of
    serving stale versions."""
    orders = load_table(spark, sf_dir, "orders")

    def stage() -> str:
        sf_tag = hashlib.md5(
            os.path.abspath(sf_dir.rstrip("/")).encode()).hexdigest()[:10]
        table_dir = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_snap_orders_{sf_tag}_"
            f"{_source_fingerprint(orders)[:10]}")
        if snap.current_version(table_dir) != 3:
            # absent, torn, or left over with a different shape:
            # restage. The fingerprint in the dir name makes a
            # stale-source dir unreachable; same-source dirs from a
            # previous process are reusable as-is (the history is a
            # pure function of the source).
            shutil.rmtree(table_dir, ignore_errors=True)
            cut = F.lit(_CUT).cast("timestamp")
            snap.write_snapshot(orders.where(F.col("o_orderdate") < cut),
                                table_dir, mode="overwrite")
            snap.write_snapshot(orders.where(F.col("o_orderdate") >= cut),
                                table_dir, mode="append")
            snap.write_snapshot(
                orders.where(F.col("o_orderpriority") != "1-URGENT"),
                table_dir, mode="overwrite")
        return table_dir

    return session_memo("snapshot_stage", spark, sf_dir, orders, stage)


def _month(col: str):
    return F.date_format(F.col(col), "yyyy-MM")


@register(
    "snapshot_version_diff",
    oracle=f"""
    WITH d AS (
        SELECT 'v1_v2' AS step, 'insert' AS change,
               strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
               {_TP} AS tp
        FROM orders WHERE CAST(o_orderdate AS TIMESTAMP)
                          >= TIMESTAMP '{_CUT}'
        UNION ALL
        SELECT 'v2_v3', 'delete',
               strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m'), {_TP}
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT step, change, month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(tp) AS DOUBLE) AS total_price
    FROM d GROUP BY step, change, month
    """,
    doc="CDC change feed over a COMMITTED snapshot history (overwrite "
        "-> append -> corrective overwrite on orders): per-(step, "
        "change, month) row counts + exact-decimal turnover from "
        "diff_snapshots(v1,v2) and (v2,v3); inserts surface from the "
        "append, deletes from the correction. Manifest-based time "
        "travel reads exactly each version's file set — no directory "
        "listing (sources/snapshots.py)",
    bench=True,
)
def snapshot_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir = _staged_history(spark, sf_dir)

    def summarize(step: str, diff: DataFrame) -> DataFrame:
        return (diff.groupBy(
                    F.lit(step).alias("step"),
                    F.col("_change").alias("change"),
                    _month("o_orderdate").alias("month"))
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum(F.expr(_TP)).cast("double")
                     .alias("total_price")))

    d12 = summarize("v1_v2", snap.diff_snapshots(spark, table_dir, 1, 2))
    d23 = summarize("v2_v3", snap.diff_snapshots(spark, table_dir, 2, 3))
    return d12.unionByName(d23)


@register(
    "snapshot_time_travel_audit",
    oracle=f"""
    WITH o AS (SELECT CAST(o_orderdate AS TIMESTAMP) AS od, {_TP} AS tp
               FROM orders),
    v AS (
        SELECT 1 AS version, 'overwrite' AS op,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(tp) AS DOUBLE) AS total_price
        FROM o WHERE od < TIMESTAMP '{_CUT}'
        UNION ALL
        SELECT 2, 'append', CAST(COUNT(*) AS BIGINT),
               CAST(SUM({_TP}) AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 3, 'overwrite', CAST(COUNT(*) AS BIGINT),
               CAST(SUM({_TP}) AS DOUBLE)
        FROM orders WHERE o_orderpriority <> '1-URGENT'
    )
    SELECT version, op, n_rows, total_price FROM v
    """,
    doc="time-travel audit: read EVERY committed version of the staged "
        "orders history through its manifest and report (version, op, "
        "rows, exact-decimal turnover); locks manifest row-count "
        "bookkeeping against a full re-read of each version's file set",
)
def snapshot_time_travel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir = _staged_history(spark, sf_dir)
    out = None
    for m in snap.versions(table_dir):
        df = (snap.read_snapshot(spark, table_dir, m["version"])
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.sum(F.expr(_TP)).cast("double").alias("total_price"))
              .select(F.lit(m["version"]).cast("int").alias("version"),
                      F.lit(m["op"]).alias("op"),
                      F.col("n_rows").cast("bigint").alias("n_rows"),
                      "total_price"))
        out = df if out is None else out.unionByName(df)
    return out


@register(
    "snapshot_incremental_view_maintenance",
    oracle=f"""
    SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_TP}) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderpriority != '1-URGENT'
    GROUP BY 1
    """,
    doc="incremental materialized-view maintenance over the snapshot "
        "history: the monthly-revenue view is built ONCE from v1, then "
        "folded forward with the v1->v2 and v2->v3 CDC diffs only "
        "(insert = +1/+price, delete = -1/-price; exact DECIMAL sums "
        "so deletions cancel bit-exactly, months dropping to zero "
        "orders vanish) — never re-aggregating a full snapshot. The "
        "oracle is the DIRECT recompute over v3's content, so the "
        "hash match IS the maintenance-equals-recompute theorem. At "
        "scale each refresh costs O(changed rows), the lakehouse MV "
        "pattern",
)
def snapshot_incremental_view_maintenance(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    table_dir = _staged_history(spark, sf_dir)
    tp = F.col("o_totalprice").cast("decimal(14,2)")

    view = (snap.read_snapshot(spark, table_dir, 1)
            .groupBy(_month("o_orderdate").alias("month"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum(tp).alias("revenue")))

    def fold(view: DataFrame, v_old: int, v_new: int) -> DataFrame:
        d = snap.diff_snapshots(spark, table_dir, v_old, v_new)
        sign = F.when(F.col("_change") == "insert",
                      F.lit(1)).otherwise(F.lit(-1))
        delta = (d.groupBy(_month("o_orderdate").alias("month"))
                 .agg(F.sum(sign).cast("bigint").alias("d_n"),
                      F.sum(sign * tp).alias("d_rev")))
        merged = (view.join(delta, "month", "full_outer")
                  .select(
                      "month",
                      (F.coalesce("n_orders", F.lit(0))
                       + F.coalesce("d_n", F.lit(0))).cast("bigint")
                      .alias("n_orders"),
                      (F.coalesce(F.col("revenue"),
                                  F.lit(0).cast("decimal(14,2)"))
                       + F.coalesce(F.col("d_rev"),
                                    F.lit(0).cast("decimal(14,2)")))
                      .alias("revenue")))
        return merged.where(F.col("n_orders") > 0)

    view = fold(view, 1, 2)
    view = fold(view, 2, 3)
    return view.select("month", "n_orders",
                       F.col("revenue").cast("double").alias("revenue"))
