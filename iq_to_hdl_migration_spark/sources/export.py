"""Export sinks S2-S6 (SURVEY §2.1) — Spark-native equivalents of the
reference's chunked/compressed/binary/LOB extract paths.

Reference -> Spark mapping:
  * S2 chunked parallel export (Temp_Extract_SizeN ~3.99 GB caps,
    migration.py:2382-2396) -> `maxRecordsPerFile` + partition count;
    chunking is a writer option, not bespoke file math.
  * S3 gzip text (migration.py:2176-2179) -> csv with
    compression=gzip (kept for interchange; parquet+snappy is the
    default staging format).
  * S4 row-binary (migration.py:2181-2184) -> parquet IS the binary
    self-describing format; no byte-order handling needed (§1.2).
  * S5/S6 LOB pointer/side-file export (migration.py:2245-2296) ->
    collapse to identity: LOB columns travel inline as string/binary
    parquet columns. No per-row side files, no pointer synthesis.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.session import local_frame

# The reference probes the source DB charset and remaps the one name
# Python can't decode (Common/common.py:342-347). Spark's csv reader
# takes any java.nio charset name; this remap table keeps the same
# source-catalog spellings working here.
_CHARSET_REMAP = {
    "Extended_UNIX_Code_Packed_Format_for_Japanese": "EUC-JP",
}


def resolve_charset(name: str | None) -> str:
    """Source-catalog charset name -> codec Spark/JVM accepts
    (identity for standard names, reference remap for the known
    unsupported spelling, UTF-8 when the catalog had none)."""
    if not name:
        return "UTF-8"
    return _CHARSET_REMAP.get(name, name)


def export_chunked_parquet(df: DataFrame, path: str,
                           max_records_per_file: int = 1_000_000,
                           num_partitions: int | None = None,
                           compression: str = "snappy") -> None:
    """S2/S4: chunk-capped columnar export. At 100 TB the two knobs
    bound file sizes the same way Temp_Extract_Size1..8 did: partition
    count spreads writers, maxRecordsPerFile caps each output file."""
    if num_partitions:
        df = df.repartition(num_partitions)
    (df.write.mode("errorifexists")
       .option("maxRecordsPerFile", max_records_per_file)
       .option("compression", compression)
       .parquet(path))


def export_orc(df: DataFrame, path: str,
               max_records_per_file: int = 1_000_000,
               num_partitions: int | None = None,
               compression: str = "zlib") -> None:
    """Columnar interchange sink for ORC-native warehouses (Hive/Trino
    estates) — same file-size discipline as the parquet exporter:
    partition count spreads writers, maxRecordsPerFile caps each file.
    ORC is JVM-native in Spark (no extra dependency), so the engine's
    sink matrix covers both mainstream columnar formats."""
    if num_partitions:
        df = df.repartition(num_partitions)
    (df.write.mode("errorifexists")
       .option("maxRecordsPerFile", max_records_per_file)
       .option("compression", compression)
       .orc(path))


def export_gzip_csv(df: DataFrame, path: str,
                    max_records_per_file: int = 1_000_000,
                    charset: str | None = None) -> None:
    """S3: gzip text interchange (header on, NULL marker matching the
    reference's NULL('NULL') convention, migration.py:2335-2348).
    `charset` takes source-catalog names (resolve_charset remaps the
    reference's EUC-JP special case) so a non-UTF8 target round-trips."""
    (df.write.mode("errorifexists")
       .option("maxRecordsPerFile", max_records_per_file)
       .option("compression", "gzip")
       .option("header", "true")
       .option("nullValue", "NULL")
       .option("encoding", resolve_charset(charset))
       .csv(path))


def read_csv(spark: SparkSession, path: str, schema: str | None = None,
             charset: str | None = None) -> DataFrame:
    """Ingest counterpart of export_gzip_csv: header/NULL conventions
    matched, `charset` decoded per the same source-catalog resolution —
    the piece a non-UTF8 source migration hits first at ingest."""
    reader = (spark.read
              .option("header", "true")
              .option("nullValue", "NULL")
              .option("encoding", resolve_charset(charset)))
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_csv_with_ledger(spark: SparkSession, path: str, schema: str,
                         charset: str | None = None
                         ) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE ingest with an error ledger: malformed rows land in a
    `_corrupt_record` column instead of failing the whole load — the
    ingest-stage analog of S9's DDL error ledger (the reference's
    onerror-continue convention). Returns (good_rows, bad_rows) where
    bad_rows carries the raw malformed line for replay/triage.

    The frame is cached before splitting: Spark computes the corrupt
    column during parsing, and filtering on it from an uncached lazy
    plan is rejected (internal-column restriction).
    """
    full = (spark.read
            .option("header", "true")
            .option("nullValue", "NULL")
            .option("encoding", resolve_charset(charset))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .schema(schema + ", _corrupt_record string")
            .csv(path)
            .cache())
    good = full.where("_corrupt_record IS NULL").drop("_corrupt_record")
    bad = (full.where("_corrupt_record IS NOT NULL")
           .select(F.col("_corrupt_record").alias("raw_line")))
    return good, bad


def export_jsonl_sharded(df: DataFrame, path: str,
                         max_records_per_file: int = 100_000,
                         num_partitions: int | None = None,
                         compression: str | None = "gzip") -> DataFrame:
    """Training-data sink: sharded JSONL (the interchange format every
    LLM data pipeline reads/writes), one JSON object per line, shards
    capped by `maxRecordsPerFile` exactly like the parquet exporter
    (S2's Temp_Extract_Size analog). Returns a one-row-per-shard
    manifest DataFrame (file, n_rows, n_bytes) read back from the
    written output — the listing-verification step S10/S11 applies to
    object-store copies (pipeline/migrate.py listing_reconcile).

    Scale shape: the write is embarrassingly parallel (no shuffle
    beyond the optional repartition); the manifest is a driver-side
    listing plus ONE count pass over the written shards, not a second
    pass over the source."""
    import os

    if num_partitions:
        df = df.repartition(num_partitions)
    w = (df.write.mode("errorifexists")
         .option("maxRecordsPerFile", max_records_per_file))
    if compression:
        w = w.option("compression", compression)
    w.json(path)
    spark = df.sparkSession
    # ONE count job over all shards (input_file_name groups rows by
    # shard), not one job per shard; names and sizes come from the
    # Hadoop FileSystem API so the sink works on any supported URI
    # (file://, hdfs://, s3a://), not just the driver's local disk
    counts = {os.path.basename(r["f"]): r["n"] for r in
              (spark.read.text(path)
               .groupBy(F.input_file_name().alias("f"))
               .agg(F.count(F.lit(1)).alias("n"))).collect()}
    rows = [(f, counts.get(f, 0), size)
            for f, size in _hadoop_listing(spark, path)
            if f.startswith("part-")]
    return local_frame(
        spark, rows, "file string, n_rows bigint, n_bytes bigint")


def _hadoop_listing(spark, path: str) -> list[tuple[str, int]]:
    """(basename, size_bytes) for every file directly under `path`,
    via the JVM Hadoop FileSystem — scheme-agnostic, unlike
    os.listdir, which only ever sees the driver's local disk."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = []
    for status in fs.listStatus(p):
        if status.isFile():
            out.append((status.getPath().getName(), status.getLen()))
    return sorted(out)


def export_hive_partitioned(df: DataFrame, path: str,
                            partition_cols: list[str],
                            max_records_per_file: int = 1_000_000,
                            compression: str = "snappy") -> None:
    """Hive-style partitioned columnar layout (dt=/source=/lang=
    directories): the 100 TB scan-pruning knob — a reader filtering on
    a partition column never lists (let alone reads) the other
    partitions' files, turning corpus-wide scans into per-slice scans
    at the METADATA level. Partition columns should be low-cardinality
    (source, lang, date); high-cardinality keys belong in bucketing
    (sources/bucketed.py) or z-ordering (operators/zorder.py), never
    in the directory tree (small-file explosion)."""
    (df.write.mode("errorifexists")
       .option("maxRecordsPerFile", max_records_per_file)
       .option("compression", compression)
       .partitionBy(*partition_cols)
       .parquet(path))
