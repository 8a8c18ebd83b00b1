"""Planning operators O1-O4 as registered queries (SURVEY §2.5).

O1/O3/O4 are shared-SQL over the catalog fixture (same body on Spark
and DuckDB). O2 (LPT bin-packing) runs the driver-side greedy on the
fixture stats and is checked against a frozen golden oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.catalog.fixture import (
    CATALOG_FIXTURE, duckdb_with_prefix, ensure_catalog_views)
from iq_to_hdl_migration_spark.operators.planning import lpt_assign
from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.session import local_frame


def _shared(name: str, tables: list[str], body: str, doc: str) -> None:
    oracle = duckdb_with_prefix(tables) + body

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_catalog_views(spark)
        return spark.sql(body)

    fn.__name__ = name
    register(name, oracle=oracle, doc=doc)(fn)


_shared("o1_tables_by_size_desc", ["table_stats", "systable"], """
SELECT t.table_name, s.size_bytes,
       CAST(RANK() OVER (ORDER BY s.size_bytes DESC, s.table_id)
            AS INTEGER) AS size_rank
FROM table_stats s JOIN systable t ON t.table_id = s.table_id
""", "O1 size-descending ordering (migration.py:1656-1662)")


# O2: frozen golden — LPT of the fixture table_stats into 3 buckets.
_LPT_GOLDEN = lpt_assign(
    [(tid, size) for tid, _rc, size in CATALOG_FIXTURE["table_stats"][1]],
    n_buckets=3)


@register(
    "o2_lpt_assignment",
    oracle="SELECT * FROM (VALUES\n    " + ",\n    ".join(
        f"(CAST({k} AS INTEGER), CAST({s} AS BIGINT), "
        f"CAST({b} AS INTEGER), CAST({o} AS INTEGER))"
        for k, s, b, o in _LPT_GOLDEN)
    + ") AS t(table_id, size_bytes, bucket, order_in_bucket)",
    doc="O2 LPT greedy bin-packing across extraction slots "
        "(migration.py:1661-1677); advisory under Spark dynamic "
        "scheduling (P3)",
)
def o2_lpt_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = [(tid, size)
             for tid, _rc, size in CATALOG_FIXTURE["table_stats"][1]]
    rows = lpt_assign(stats, n_buckets=3)
    return local_frame(
        spark, rows, "table_id int, size_bytes long, bucket int, "
              "order_in_bucket int")


_shared("o3_size_batching", ["table_stats"], """
SELECT table_id, size_bytes,
       CAST(FLOOR((cum_before) / 5000000.0) AS INTEGER) AS batch_id
FROM (
    SELECT table_id, size_bytes,
           COALESCE(SUM(size_bytes) OVER (
               ORDER BY size_bytes, table_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
    FROM table_stats
) t
""", "O3 ascending cumulative-sum size batching via window "
     "(migration.py:1753-1784); Batch_Size cap = 5 MB at fixture scale")

_shared("o4_retry_priority", ["load_status"], """
SELECT owner_table, state, attempt,
       CASE WHEN state = 'failed' THEN 0
            WHEN state = 'pending' THEN 1
            ELSE 2 END AS priority
FROM load_status
""", "O4 failed-first retry ordering (load_schema_and_data.py:856-874)")
