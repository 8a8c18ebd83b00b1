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

from pyspark.sql import DataFrame, SparkSession

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
