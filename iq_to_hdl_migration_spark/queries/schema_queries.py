"""Registered queries for schema generation (S7), config validation
(S12), the scalar-function surface (§2.7), and the assessment report
assembly (pre_migration.py:856-926 runner).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.catalog.fixture import (
    duckdb_with_prefix, ensure_catalog_views)
from iq_to_hdl_migration_spark.config import validate_config
from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.schema.generate import generate_spark_ddl
from iq_to_hdl_migration_spark.session import local_frame

# ---------------------------------------------------------------------------
# S7: generated DDL digest (deterministic over the catalog fixture).
# ---------------------------------------------------------------------------


_S7_GOLDEN = [
    ("app1.t_child", 4, "86668bee4ec0cc3425cd1584e4e6db0f"),
    ("app1.t_empty", 3, "889e1f01e28e376ad9bfb2fa8af4f5d1"),
    ("app1.t_identity", 3, "76f9c758e460aff7f50afeb1ef4dacc7"),
    ("app1.t_lob", 5, "26671a6f2143652c71cdefe4f74beff1"),
    ("app1.t_parent", 3, "45c8b9bc3547aa11b66fcb0b86c156f3"),
    ("app1.t_types", 6, "898915585344056583c828f160454095"),
    ("app2.t_wide", 3, "f6789dc18290186052c32481b087abd5"),
]


@register(
    "s7_generated_ddl",
    # the DDL is deterministic over the packaged catalog fixture, so the
    # per-table digests freeze into a VALUES oracle (same golden pattern
    # as ddl_output_digest); the DDL text itself is additionally applied
    # + round-tripped in tests/test_schema_tools.py (S9)
    oracle="SELECT * FROM (VALUES\n    " + ",\n    ".join(
        f"('{t}', CAST({n} AS INTEGER), '{h}')" for t, n, h in _S7_GOLDEN
    ) + ") AS t(owner_table, n_idents, ddl_md5)",
    doc="S7 catalog->Spark DDL generation (replaces iqunload + text "
        "rewrite; migration.py:476-596 collapsed into structured "
        "generation)",
)
def s7_generated_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_catalog_views(spark)
    rows = [(k, ddl.count("`") // 2,
             hashlib.md5(ddl.encode()).hexdigest())
            for k, ddl in generate_spark_ddl(spark)]
    return local_frame(
        spark, rows, "owner_table string, n_idents int, ddl_md5 string")


# ---------------------------------------------------------------------------
# S12: config validation report with a frozen golden (one valid fixture
# config + known-bad fields).
# ---------------------------------------------------------------------------

_FIXTURE_CFG = {
    "Host_Name": "iqhost1", "Port_Number": 2638, "Batch_Size_GB": 50,
    "Client_Num_Conn": 1, "Extract_Path": "/data/extract",
}


@register(
    "s12_config_validation",
    oracle="""
    SELECT * FROM (VALUES
        ('Host_Name', 'iqhost1', 'ok', ''),
        ('Port_Number', '2638', 'ok', ''),
        ('Batch_Size_GB', '50', 'FAIL', '0 (off) or >= 100'),
        ('Client_Num_Conn', '1', 'FAIL', 'must be >= 2'),
        ('Extract_Path', '/data/extract', 'ok', '')
    ) AS t(field, value, verdict, detail)
    """,
    doc="S12 config validation parity (common.py:76-146,297-313): "
        "batch floor 100 GB, >= 2 client connections, 90-char path cap",
)
def s12_config_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = validate_config(_FIXTURE_CFG)
    return local_frame(spark, rows, "field string, value string, "
                                    "verdict string, detail string")


# ---------------------------------------------------------------------------
# §2.7 scalar-function surface — one shared-SQL query exercising every
# scalar the reference uses (trim/lower/upper/LIKE ESCAPE/CASE/concat/
# substr) so the function set is value-checked as a unit.
# ---------------------------------------------------------------------------

_SCALAR_BODY = """
SELECT user_id,
       trim('  ' || user_name || ' ') AS trimmed,
       lower(user_name) AS lowered,
       upper(user_name) AS uppered,
       substr(user_name, 1, 3) AS first3,
       length(user_name) AS name_len,
       CASE WHEN lower(user_name) LIKE '!_sap!_%' ESCAPE '!'
            THEN 'internal'
            WHEN user_name = 'DBA' THEN 'admin'
            ELSE 'regular' END AS classification,
       user_name || '@' || 'iqsrv1' AS qualified
FROM sysuser
"""


def _scalar_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_catalog_views(spark)
    return spark.sql(_SCALAR_BODY)


_scalar_fn.__name__ = "fn_scalar_suite"
register("fn_scalar_suite",
         oracle=duckdb_with_prefix(["sysuser"]) + _SCALAR_BODY,
         doc="§2.7 scalar functions: trim/lower/upper/substr/length/"
             "LIKE ESCAPE/CASE/concat (common.py:342,451; "
             "migration.py:651,736)")(_scalar_fn)


# ---------------------------------------------------------------------------
# Assessment report assembly (§3.1): the check-suite runner emitting one
# report row per feature check — shared SQL over the catalog fixture.
# ---------------------------------------------------------------------------

_ASSESS_BODY = """
SELECT 'external_procedures' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysprocedure
        WHERE proc_defn LIKE '%external name%') AS n_hits,
       'action_required' AS severity,
       'rewrite external UDFs before migration' AS comment
UNION ALL
SELECT 'legacy_indexes' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysindex
        WHERE index_type IN ('LD', 'LF', 'HNG')) AS n_hits,
       'info' AS severity,
       'LD/LF/HNG indexes are dropped on HDL' AS comment
UNION ALL
SELECT 'local_store_segments' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysiqfile
        WHERE segment_type = 'Local') AS n_hits,
       'action_required' AS severity,
       'local store not supported; consolidate to shared' AS comment
UNION ALL
SELECT 'user_logical_servers' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysiqlogicalserver
        WHERE ls_id > 10000) AS n_hits,
       'action_required' AS severity,
       'user-defined logical servers are not migrated' AS comment
UNION ALL
SELECT 'dqp_enabled' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysoption
        WHERE option_name LIKE 'DQP_Enabled%' AND setting = 'ON') AS n_hits,
       'info' AS severity,
       'DQP options are reset on HDL' AS comment
UNION ALL
SELECT 'reserved_users' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysuser
        WHERE user_name IN ('saptu', 'sapsupport', 'custadmin',
                            'hdladmin')) AS n_hits,
       'action_required' AS severity,
       'reserved user names collide with HDL-managed users' AS comment
UNION ALL
SELECT 'certificates' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM syscertificate) AS n_hits,
       'action_required' AS severity,
       'certificates must be re-imported on HDL' AS comment
UNION ALL
SELECT 'remote_servers' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysserver) AS n_hits,
       'action_required' AS severity,
       'remote servers / proxy tables are commented by the DDL rules'
           AS comment
UNION ALL
SELECT 'rlv_tables' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sysiqtab
        WHERE is_rlv = 'T') AS n_hits,
       'action_required' AS severity,
       'RLV (row-level-versioned) tables are excluded' AS comment
UNION ALL
SELECT 'web_services' AS check_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM syswebservice) AS n_hits,
       'action_required' AS severity,
       'web services are not available on HDL' AS comment
"""


def _assess_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_catalog_views(spark)
    return spark.sql(_ASSESS_BODY)


_assess_fn.__name__ = "assessment_report"
register("assessment_report",
         oracle=duckdb_with_prefix(
             ["sysprocedure", "sysindex", "sysiqfile", "sysiqlogicalserver",
              "sysoption", "sysuser", "syscertificate", "sysserver",
              "sysiqtab", "syswebservice"]) + _ASSESS_BODY,
         doc="pre-migration assessment report assembly: one row per "
             "feature check (pre_migration.py:856-926 runner as a "
             "single DataFrame)")(_assess_fn)
