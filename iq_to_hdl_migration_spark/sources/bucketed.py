"""Bucketed warehouse staging — shuffle-free co-located fact joins.

The reference co-locates its biggest extract/load pairs only by
chunking files (migration.py:2382-2396); on Spark the analogous 100 TB
lever is hash bucketing: write both fact tables bucketed by the join
key once at ingest, and every subsequent equi-join on that key skips
BOTH shuffle exchanges — the single biggest cost in the fact x fact
queries (ship latency, trade flow: orders x lineitem on orderkey).

Bucketed tables must live in the session catalog (`saveAsTable`);
plain `.parquet(path)` writes drop bucket metadata. Re-staging is
idempotent per (table, bucket count).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.sources.tables import load_table

# join-key column per fact table (TPC-H orderkey chain)
BUCKET_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}


def bucketed_name(table: str, n_buckets: int, sf_tag: str = "") -> str:
    suffix = f"_{sf_tag}" if sf_tag else ""
    return f"bkt_{table}_{n_buckets}{suffix}"


def _sf_tag(sf_dir: str) -> str:
    """Scale-factor tag so staged tables from different sf dirs never
    collide (sf0.001 -> 'sf0_001')."""
    base = os.path.basename(sf_dir.rstrip("/"))
    return base.replace(".", "_")


def _source_fingerprint(src: DataFrame) -> str:
    """Driver-side content fingerprint of the files backing `src`:
    md5 over the sorted (path, size, mtime_ns) triples. Catches
    regenerated sources even when row counts are preserved (TPC-H
    regeneration at the same scale factor yields identical
    cardinalities, so a count probe alone would silently reuse a stale
    stage). Costs a handful of stat() calls — no scan."""
    import hashlib

    parts = []
    for p in sorted(src.inputFiles()):
        local = p.removeprefix("file:")
        try:
            st = os.stat(local)
            parts.append(f"{local}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{local}:unstatable")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def stage_bucketed(spark: SparkSession, sf_dir: str,
                   tables: dict[str, str] | None = None,
                   n_buckets: int = 16) -> list[str]:
    """One-time bucketed ingest: each fact table written bucketed +
    sorted by its join key into the session catalog. Sorting inside
    buckets lets the join run as a zero-exchange, zero-sort merge.
    Returns the catalog table names."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    tag = _sf_tag(sf_dir)
    names = []
    for table, key in (tables or BUCKET_KEYS).items():
        name = bucketed_name(table, n_buckets, tag)
        src = load_table(spark, sf_dir, table)
        src_fp = _source_fingerprint(src)
        loc = os.path.join(wh, name)
        if not spark.catalog.tableExists(name) and os.path.isdir(loc):
            # files staged by an earlier session; the in-memory
            # catalog lost the entry — re-register the bucketed
            # layout as an external table over the same location
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                             for f in src.schema.fields)
            spark.sql(f"""
                CREATE TABLE {name} ({cols}) USING PARQUET
                CLUSTERED BY ({key}) SORTED BY ({key})
                INTO {n_buckets} BUCKETS
                LOCATION '{loc}'
            """)
        if spark.catalog.tableExists(name):
            # staleness guard: restage unless BOTH recorded
            # fingerprints match — the source one catches regenerated
            # inputs even at identical row counts (TPC-H regeneration
            # preserves cardinalities, so a count probe alone would
            # silently reuse a stale stage), the staged one catches
            # deleted/corrupted bucket files. Pure driver-side stat()
            # calls, no scan.
            spark.catalog.refreshTable(name)
            props = {r["key"]: r["value"]
                     for r in spark.sql(
                         f"SHOW TBLPROPERTIES {name}").collect()}
            if (props.get("spark_graft.src_fp") == src_fp
                    and props.get("spark_graft.staged_fp")
                    == _source_fingerprint(spark.table(name))):
                names.append(name)
                continue
            spark.sql(f"DROP TABLE {name}")
            shutil.rmtree(loc, ignore_errors=True)
        (src.write.bucketBy(n_buckets, key).sortBy(key)
         .format("parquet").saveAsTable(name))
        staged_fp = _source_fingerprint(spark.table(name))
        spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES "
                  f"('spark_graft.src_fp' = '{src_fp}', "
                  f"'spark_graft.staged_fp' = '{staged_fp}')")
        names.append(name)
    return names


def bucketed_join(spark: SparkSession, sf_dir: str, left: str, right: str,
                  left_key: str, right_key: str,
                  n_buckets: int = 16) -> DataFrame:
    """Equi-join two staged bucketed tables on their bucket keys.
    With matching bucket counts Catalyst plans SortMergeJoin with NO
    Exchange on either side — verify with .explain()."""
    tag = _sf_tag(sf_dir)
    lt = spark.table(bucketed_name(left, n_buckets, tag))
    rt = spark.table(bucketed_name(right, n_buckets, tag))
    return lt.join(rt, F.col(left_key) == F.col(right_key))
