"""The migrate_table spine: extract → stage → load → verify → status
(SURVEY §7 step 2; reference: extract_single migration.py:2085-2241,
generated LOAD + verify-or-rollback migration.py:1461-1566, ledgers
migration.py:1896-2049, resume load_schema_and_data.py:615-735).

Spark-first re-expression:
  * extract = DataFrame read (JDBC/parquet source) — Spark parallelizes
    within the table, replacing the reference's fork/queue machinery
    (P1/P2); per-table `repartition` by size replaces LPT node packing.
  * stage   = parquet write to a temp dir + count verify + atomic
    rename — the P12 atomic-publish protocol (plain parquet writes are
    not transactional; rename-on-verify gives the same
    verify-or-rollback semantics as the generated LOAD blocks V1).
  * load    = read staged parquet → write target (saveAsTable or dir).
  * status  = append-only parquet ledger with latest-wins semantics
    (S14); resume = left-anti of inventory vs 'loaded' states (J15),
    failed tables re-queued first (O4).

Row counts are tracked as DECIMAL(20,0) — the reference declares
UNSIGNED BIGINT (migration.py:1471); Spark's LongType is signed
(SURVEY §7 hard-part 6).
"""

from __future__ import annotations

import uuid

from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iq_to_hdl_migration_spark.session import local_frame

_EVENT_SCHEMA = ("table_key string, rowcount decimal(20,0), "
                 "size_bytes bigint, state string, attempt int, "
                 "run_id string")
STATUS_SCHEMA = _EVENT_SCHEMA + ", ts timestamp"


class MigrationStatus:
    """Append-only parquet status ledger with latest-wins reads (S14).

    Writes append one small file per update (cheap, atomic at the file
    level); `current()` resolves latest-per-table with a window — at
    production scale this would be a Delta table with MERGE, but the
    protocol (append + latest-wins) is identical."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = str(path)

    def event(self, table_key: str, state: str, rowcount: int = 0,
              size_bytes: int = 0, attempt: int = 0,
              run_id: str = "") -> DataFrame:
        """One ledger event as a one-row frame in STATUS_SCHEMA."""
        row = [(table_key, Decimal(rowcount), size_bytes, state, attempt,
                run_id or uuid.uuid4().hex[:8])]
        return (local_frame(self.spark, row, _EVENT_SCHEMA)
                .withColumn("ts", F.current_timestamp()))

    def append(self, table_key: str, state: str, rowcount: int = 0,
               size_bytes: int = 0, attempt: int = 0,
               run_id: str = "") -> None:
        self.event(table_key, state, rowcount, size_bytes, attempt, run_id) \
            .coalesce(1).write.mode("append").parquet(self.path)

    def all_events(self) -> DataFrame:
        try:
            return self.spark.read.schema(STATUS_SCHEMA).parquet(self.path)
        except Exception:
            return local_frame(self.spark, [], STATUS_SCHEMA)

    def current(self) -> DataFrame:
        """Latest state per table (window over event log)."""
        w = Window.partitionBy("table_key").orderBy(F.desc("ts"),
                                                    F.desc("attempt"))
        return (self.all_events()
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def in_state(self, state: str) -> DataFrame:
        return self.current().where(F.col("state") == state) \
            .select("table_key")


@dataclass
class MigrateOutcome:
    table_key: str
    state: str                 # loaded | empty | failed
    expected: int
    actual: int
    detail: str = ""


def _atomic_publish(tmp: Path, final: Path) -> None:
    if final.exists():
        raise IOError(f"publish target exists: {final}")
    tmp.rename(final)


def migrate_table(spark: SparkSession, source: DataFrame, table_key: str,
                  staging_dir: str, target_dir: str,
                  status: MigrationStatus | None = None,
                  attempt: int = 0) -> MigrateOutcome:
    """One table through the full spine with verify-or-rollback.

    Any count mismatch rolls back (tmp dir removed, nothing published)
    and records 'failed' — the Spark analog of the generated
    `IF cnt != expected THEN ROLLBACK` block (migration.py:1461-1480).
    """
    expected = source.count()

    if expected == 0:
        # V8 empty-table short-circuit (migration.py:1921-1931)
        if status:
            status.append(table_key, "empty", 0, 0, attempt)
        return MigrateOutcome(table_key, "empty", 0, 0, "empty-table skip")

    stage_tmp = Path(staging_dir) / f"_tmp_{table_key}_{uuid.uuid4().hex[:8]}"
    stage_final = Path(staging_dir) / table_key
    try:
        source.write.mode("errorifexists").parquet(str(stage_tmp))
        staged = spark.read.parquet(str(stage_tmp))
        staged_count = staged.count()
        if staged_count != expected:  # V1 verify-or-rollback
            raise ValueError(
                f"stage count {staged_count} != expected {expected}")
        _atomic_publish(stage_tmp, stage_final)

        target = Path(target_dir) / table_key
        spark.read.parquet(str(stage_final)) \
            .write.mode("errorifexists").parquet(str(target))
        actual = spark.read.parquet(str(target)).count()
        if actual != expected:    # V2 post-load re-check
            raise ValueError(f"load count {actual} != expected {expected}")

        size = sum(f.stat().st_size
                   for f in stage_final.rglob("*") if f.is_file())
        if status:
            status.append(table_key, "loaded", expected, size, attempt)
        return MigrateOutcome(table_key, "loaded", expected, actual)
    except Exception as exc:  # rollback: remove tmp, report failure
        import shutil
        shutil.rmtree(stage_tmp, ignore_errors=True)
        if status:
            status.append(table_key, "failed", expected, 0, attempt)
        return MigrateOutcome(table_key, "failed", expected, -1, str(exc))


def migrate_tables(spark: SparkSession,
                   sources: dict[str, DataFrame],
                   staging_dir: str, target_dir: str,
                   status: MigrationStatus,
                   max_attempts: int = 3) -> list[MigrateOutcome]:
    """Multi-table driver loop with resume + failed-first retry (O4).

    Tables already 'loaded' in the status ledger are skipped (J15
    resume delta); previously-failed tables run before fresh ones
    (load_schema_and_data.py:856-874). Spark parallelizes within each
    table; at production scale the loop itself can be a thread pool —
    kept sequential here for deterministic tests."""
    done = {r.table_key for r in status.in_state("loaded").collect()}
    failed_before = {r.table_key for r in status.in_state("failed").collect()}

    queue = ([k for k in sorted(sources) if k in failed_before and
              k not in done]
             + [k for k in sorted(sources) if k not in failed_before and
                k not in done])
    outcomes = []
    for key in queue:
        for attempt in range(max_attempts):
            out = migrate_table(spark, sources[key], key, staging_dir,
                                target_dir, status, attempt)
            if out.state != "failed":
                break
            # remove any published-but-unverified leftovers before retry
            import shutil
            shutil.rmtree(Path(target_dir) / key, ignore_errors=True)
            shutil.rmtree(Path(staging_dir) / key, ignore_errors=True)
        outcomes.append(out)
    return outcomes


def reconcile(status: MigrationStatus,
              inventory: DataFrame) -> DataFrame:
    """V3/V4 completeness: inventory anti-join loaded set -> missing."""
    loaded = status.in_state("loaded")
    return (inventory.join(loaded,
                           inventory.table_key == loaded.table_key,
                           "left_anti"))


def listing_reconcile(spark: SparkSession, source_dir: str,
                      target_dir: str) -> DataFrame:
    """S11/V6 over real filesystems: relative-path + byte-size compare
    of two directory trees (local staging vs object-store copy). On a
    cluster the listings come from the Hadoop FileSystem API; the
    reconciliation join is identical."""
    def listing(root: str):
        base = Path(root)
        return [(str(p.relative_to(base)), p.stat().st_size)
                for p in sorted(base.rglob("*"))
                if p.is_file() and not p.name.startswith((".", "_"))]

    schema = "path string, size_bytes long"
    src = local_frame(spark, listing(source_dir), schema) \
        .withColumnRenamed("size_bytes", "src_size")
    tgt = local_frame(spark, listing(target_dir), schema) \
        .withColumnRenamed("size_bytes", "tgt_size")
    joined = src.join(tgt, "path", "full_outer")
    return joined.select(
        "path", "src_size", "tgt_size",
        F.when(F.col("src_size").isNull(), "extra_target")
         .when(F.col("tgt_size").isNull(), "missing_target")
         .when(F.col("src_size") != F.col("tgt_size"), "size_mismatch")
         .otherwise("ok").alias("status"))
