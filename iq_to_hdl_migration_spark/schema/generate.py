"""S7: schema generation from the catalog snapshot.

The reference shells out to `iqunload` for reload.sql
(migration.py:476-596) and rewrites it textually; Spark-first, the DDL
is *generated* from catalog DataFrames — no external binary, no text
munging — and the D-rule knowledge is already applied structurally
(unsupported constructs simply aren't emitted). FK statements are
captured for post-load application by the DDL rewrite engine
(`RewriteResult.fk_statements`, D4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from iq_to_hdl_migration_spark.schema.typemap import spark_struct_for_table


def _sql_type(dt) -> str:
    return dt.simpleString().upper()


def generate_spark_ddl(spark: SparkSession,
                       owners: tuple[str, ...] = ("app1", "app2"),
                       table_format: str = "parquet"
                       ) -> list[tuple[str, str]]:
    """[(owner_table, CREATE TABLE ...)] for every migratable table
    (J3 inventory filter)."""
    inventory = (
        spark.table("systable").alias("t")
        .join(spark.table("sysuser").alias("u"),
              F.col("u.user_id") == F.col("t.creator"))
        .join(spark.table("sysiqtab").alias("q"),
              F.col("q.table_id") == F.col("t.table_id"))
        .where((F.col("t.table_type") == "BASE")
               & (F.col("t.server_type") == "IQ")
               & (F.col("q.is_rlv") == "F")
               & F.col("u.user_name").isin(*owners))
        .select("u.user_name", "t.table_name", "t.table_id")
        .orderBy("t.table_id")
        .collect())

    out = []
    for r in inventory:
        struct = spark_struct_for_table(spark, r.user_name, r.table_name)
        if not struct.fields:
            continue
        cols = ",\n  ".join(
            f"`{f.name}` {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in struct.fields)
        key = f"{r.user_name}.{r.table_name}"
        ddl = (f"CREATE TABLE IF NOT EXISTS "
               f"`{r.user_name}__{r.table_name}` (\n  {cols}\n) "
               f"USING {table_format}")
        out.append((key, ddl))
    return out
