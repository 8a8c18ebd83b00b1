"""Parquet dataset sources for the synthetic star schema.

Reference analog: the extract phase's full-table scans with explicit
column lists (Migration/migration.py:2185-2197) — here expressed as
`spark.read.parquet(...)` so Catalyst drives column pruning and filter
pushdown instead of hand-written SELECT lists (SURVEY §2.1 S1).

Schemas are never inferred from data at runtime in the reference
(always catalog-derived, migration.py:1520); parquet is self-describing
so the same property holds for free.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Big tables worth splitting into many files at ingest; dims stay 1 file.
_FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Session-scoped relation memo: resolving a parquet relation costs a
# driver round-trip + file listing (~80 ms/table), which dominates
# sub-second queries that re-load 5 tables per call. The source
# datasets are immutable by contract (read-only testdata; production
# snapshots), so reusing the resolved DataFrame is safe. Keyed by
# Spark application id so a restarted session never sees another
# session's plans. The warehouse-staging branch bypasses the memo —
# staged copies can appear mid-session.
# Entries are stored with `setdefault` (atomic on a dict), so threads
# racing to resolve one table — the concurrent `warm_all_memos` —
# all get the first stored relation, and memo keys that fingerprint
# it see one object.
_RELATION_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _staged_listing_fingerprint(staged: str) -> str:
    """Digest of the staged dir's (name, mtime_ns, size) listing —
    tens of files, sub-millisecond; any rewrite changes it."""
    import hashlib
    entries = []
    with os.scandir(staged) as it:
        for e in it:
            st = e.stat()
            entries.append(f"{e.name}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(sorted(entries)).encode()).hexdigest()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; normalizes events.ts (stored as TIMESTAMP(NANOS),
    which different Spark versions decode differently) to a canonical
    microsecond TIMESTAMP — same truncation DuckDB applies when casting
    its TIMESTAMP_NS to TIMESTAMP (see `normalize_event_ts`).

    If $SPARK_GRAFT_WAREHOUSE is set and holds a staged copy of the
    table (see `stage_warehouse`), reads that instead: the staged
    layout splits each single-row-group source file into many files so
    scan stages parallelize across executors — source parquet with one
    row group is unsplittable and pins the whole scan to one task no
    matter how large the cluster.
    """
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if wh:
        staged = os.path.join(wh, os.path.basename(sf_dir.rstrip("/")), name)
        if os.path.isdir(staged):
            # memo keyed by the staged dir's full file listing
            # (name, mtime_ns, size): an in-place overwrite of a part
            # file does NOT bump the directory mtime, so the key must
            # come from the files themselves for restaging (of any
            # form) to invalidate the cached plan
            skey = (spark.sparkContext.applicationId, staged,
                    _staged_listing_fingerprint(staged))
            memo = _RELATION_MEMO.get(skey)
            if memo is not None:
                return memo
            df = spark.read.parquet(staged)
            if name == "events":
                df = normalize_event_ts(df)
            return _RELATION_MEMO.setdefault(skey, df)
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    memo = _RELATION_MEMO.get(key)
    if memo is not None:
        return memo
    if name == "events":
        try:
            # Spark <= 4.0 can only read TIMESTAMP(NANOS) as a long;
            # Spark >= 4.1 ignores this conf and reads it as
            # TIMESTAMP_NTZ truncated to micros.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = normalize_event_ts(spark.read.parquet(table_path(sf_dir, name)))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    return _RELATION_MEMO.setdefault(key, df)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize events.ts to a TIMESTAMP whose epoch micros equal the
    file's naive value read as UTC — exactly what DuckDB's
    epoch_us(CAST(ts AS TIMESTAMP)) sees, so oracles agree on every
    Spark version regardless of how the nanos column was decoded.

    The NTZ branch is session-TZ-independent ONLY because the second
    argument is the SESSION timezone: the implicit NTZ->LTZ cast shifts
    the wall-clock by -offset(session), and from_utc_timestamp(..,
    current_timezone()) shifts by +offset(session), so the two cancel
    in every zone (verified 0-diff under UTC / America/Los_Angeles /
    Asia/Tokyo in tests/test_events_ts.py). The previous
    to_utc_timestamp(.., 'UTC') form silently shifted every timestamp
    by the session offset whenever the session zone was not UTC; note
    to_utc_timestamp(.., current_timezone()) DOUBLES the shift — the
    un-shift direction matters.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # legacy nanosAsLong read (Spark <= 4.0)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":  # Spark >= 4.1 native TIMESTAMP(NANOS) read
        return df.withColumn(
            "ts", F.from_utc_timestamp("ts", F.current_timezone()))
    return df


def stage_warehouse(spark: SparkSession, sf_dir: str, warehouse_dir: str,
                    tables: list[str] | None = None,
                    rows_per_file: int = 50_000,
                    max_files: int = 64) -> str:
    """One-time ingest of the source parquet into the engine's own
    layout (the load phase every warehouse has): fact tables are split
    into ~`rows_per_file`-row files so scan parallelism tracks table
    size (one giant unsplittable file pins a scan to one task; a spray
    of tiny files drowns it in task overhead); events.ts is normalized
    at ingest.  Idempotent — existing staged tables are kept.  Returns
    the directory to export as $SPARK_GRAFT_WAREHOUSE.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    for name in tables or TABLES:
        dest = os.path.join(warehouse_dir, sf_name, name)
        if os.path.isdir(dest):
            continue
        df = load_table(spark, sf_dir, name)
        if name in _FACT_TABLES:
            n = max(1, min(max_files, -(-df.count() // rows_per_file)))
        else:
            n = 1
        df.repartition(n).write.mode("overwrite").parquet(dest)
    return warehouse_dir


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the benchmark tables as DataFrames (lazy — no scan yet)."""
    return {t: load_table(spark, sf_dir, t) for t in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register each table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
