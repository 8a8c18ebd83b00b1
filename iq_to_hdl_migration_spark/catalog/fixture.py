"""Deterministic SYS-catalog snapshot fixture (SURVEY §1.1, FIXTURES.md §A).

The reference's query surface is mostly catalog introspection over SAP IQ
system tables (SYS.SYSTABLE, SYSCOLUMN, SYSUSER, ... — e.g.
Migration/migration.py:651,1691; Pre_Migration/pre_migration.py:105-623).
Our engine models that catalog as a set of small DataFrames/views — the
`information_schema` analog — snapshotted from the source in production
(JDBC) and from this fixture in tests.

The same fixture rows are rendered two ways so every catalog operator is
hash-checkable by the driver:
  * `ensure_catalog_views(spark)` — Spark temp views over `local_frame`s;
  * `duckdb_with_prefix(tables)`  — a `WITH t(...) AS (VALUES ...)` SQL
    prefix so the DuckDB oracle evaluates the *same* query body over the
    *same* rows.

Column-name notes: SQL-reserved names from the reference are renamed
(`SYSCOLUMN."default"` → `col_default`, `SYSOPTION."option"` →
`option_name`) because Spark quotes identifiers with backticks while
DuckDB uses double quotes — a shared query body must avoid quoting.
"""

from __future__ import annotations

import weakref

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from iq_to_hdl_migration_spark.session import local_frame

# name -> (columns: [(col, kind)], rows); kind in {int, long, str, double}
CATALOG_FIXTURE: dict[str, tuple[list[tuple[str, str]], list[tuple]]] = {
    # SYS.SYSUSER (migration.py:651,736; pre_migration.py:352)
    "sysuser": (
        [("user_id", "int"), ("user_name", "str")],
        [(101, "DBA"), (102, "dbo"), (103, "SYS"), (104, "_sap_efc"),
         (105, "hdladmin"), (106, "app1"), (107, "app2"), (108, "saptu"),
         (109, "rs_systabgroup")],
    ),
    # SYS.SYSTABLE (migration.py:651,1691; pre_migration.py:240,438)
    "systable": (
        [("table_id", "int"), ("table_name", "str"), ("creator", "int"),
         ("table_type", "str"), ("server_type", "str"), ("object_id", "long")],
        [(1, "t_types", 106, "BASE", "IQ", 1001),
         (2, "t_lob", 106, "BASE", "IQ", 1002),
         (3, "t_identity", 106, "BASE", "IQ", 1003),
         (4, "t_empty", 106, "BASE", "IQ", 1004),
         (5, "t_parent", 106, "BASE", "IQ", 1005),
         (6, "t_child", 106, "BASE", "IQ", 1006),
         (7, "t_dbo_owned", 102, "BASE", "IQ", 1007),
         (8, "t_sap_owned", 104, "BASE", "IQ", 1008),
         (9, "t_sa_cat", 106, "BASE", "SA", 1009),
         (10, "t_rlv", 106, "BASE", "IQ", 1010),
         (11, "t_gbltemp", 106, "GBL TEMP", "IQ", 1011),
         (12, "v_child_sum", 106, "VIEW", "IQ", 1012),
         (13, "v_on_view", 106, "VIEW", "IQ", 1013),
         (14, "t_wide", 107, "BASE", "IQ", 1014),
         (15, "t_proxy", 106, "BASE", "IQ", 1015),
         (16, "t_hdladmin_owned", 105, "BASE", "IQ", 1016),
         (17, "v_top", 106, "VIEW", "IQ", 1017)],
    ),
    # SYS.SYSIQTAB is_rlv flag (pre_migration.py:240; migration.py:1691)
    "sysiqtab": (
        [("table_id", "int"), ("is_rlv", "str")],
        [(i, "T" if i == 10 else "F") for i in range(1, 18)],
    ),
    # SYS.SYSCOLUMN (migration.py:1501,1520,1704,2185); "default"->col_default
    "syscolumn": (
        [("table_id", "int"), ("column_id", "int"), ("column_name", "str"),
         ("domain_id", "int"), ("width", "int"), ("nulls", "str"),
         ("col_default", "str")],
        [(1, 1, "c_int", 1, 4, "N", None),
         (1, 2, "c_big", 2, 8, "N", None),
         (1, 3, "c_vchar", 8, 64, "Y", None),
         (1, 4, "c_dec", 10, 9, "Y", None),
         (1, 5, "c_ts", 16, 8, "Y", "current timestamp"),
         (2, 1, "id", 1, 4, "N", None),
         (2, 2, "doc", 9, 32768, "Y", None),
         (2, 3, "blob", 12, 32768, "Y", None),
         (2, 4, "note", 8, 128, "Y", None),
         (3, 1, "id", 1, 4, "N", "Identity/Autoincrement"),
         (3, 2, "val", 8, 32, "Y", None),
         (4, 1, "id", 1, 4, "N", None),
         (4, 2, "x", 8, 16, "Y", None),
         (5, 1, "pk", 1, 4, "N", None),
         (5, 2, "name", 8, 40, "N", None),
         (6, 1, "pk", 1, 4, "N", None),
         (6, 2, "parent_pk", 1, 4, "N", None),
         (6, 3, "qty", 10, 8, "Y", "0"),
         (10, 1, "id", 1, 4, "N", "autoincrement"),
         (10, 2, "v", 8, 16, "Y", None),
         (14, 1, "k", 2, 8, "N", None),
         (14, 2, "payload", 8, 512, "Y", None)],
    ),
    # SYS.SYSDOMAIN (migration.py:2115,2251)
    "sysdomain": (
        [("domain_id", "int"), ("domain_name", "str")],
        [(1, "integer"), (2, "bigint"), (3, "smallint"), (4, "tinyint"),
         (5, "bit"), (6, "char"), (7, "varchar"), (8, "varchar"),
         (9, "long varchar"), (10, "numeric"), (11, "binary"),
         (12, "long binary"), (13, "float"), (14, "double"), (15, "date"),
         (16, "timestamp"), (17, "time"), (18, "unsigned bigint")],
    ),
    # SYS.SYSINDEX (migration.py:663; pre_migration.py:454-487)
    "sysindex": (
        [("table_id", "int"), ("index_name", "str"), ("index_type", "str")],
        [(1, "idx_fp_types", "FP"), (2, "idx_ld_lob", "LD"),
         (5, "idx_hg_parent", "HG"), (6, "idx_lf_child", "LF"),
         (6, "idx_hg_child", "HG"), (14, "idx_hng_wide", "HNG")],
    ),
    # SYS.SYSFOREIGNKEY (migration.py:1319,1709)
    "sysforeignkey": (
        [("foreign_table_id", "int"), ("primary_table_id", "int")],
        [(6, 5), (3, 5)],
    ),
    # SYS.SYSTRIGGER (migration.py:669,762)
    "systrigger": (
        [("trigger_name", "str"), ("table_id", "int")],
        [("trg_child_ins", 6)],
    ),
    # SYS.SYSPROCEDURE (migration.py:701,821; pre_migration.py:336)
    "sysprocedure": (
        [("proc_name", "str"), ("creator", "int"), ("proc_defn", "str"),
         ("srvid", "int")],
        [("sp_internal", 103, "create procedure sp_internal ...", None),
         ("sa_helper", 103, "create procedure sa_helper ...", None),
         ("p_app_calc", 106,
          "create procedure p_app_calc() begin select 1; end", None),
         ("p_ext_udf", 106,
          "create procedure p_ext_udf() external name 'libudf.so'", None),
         ("p_remote", 106, "create procedure p_remote at 'rsrv_hana..db.t'", 1)],
    ),
    # SYSDEPENDENCY: 3-level view chain for the transitive closure
    # (migration.py:677-698)
    "sysdependency": (
        [("ref_object_id", "long"), ("dep_object_id", "long")],
        [(1006, 1012), (1005, 1012), (1012, 1013), (1013, 1017)],
    ),
    # SYSSERVER / SYSPROXYTAB / SYSCAPABILITY* (migration.py:821-882,943-960)
    "sysserver": (
        [("srvid", "int"), ("srvname", "str"), ("srvclass", "str")],
        [(1, "rsrv_hana", "hanaodbc"), (2, "rsrv_ase", "aseodbc"),
         (3, "rsrv_ms", "mssodbc")],
    ),
    "sysproxytab": (
        [("table_object_id", "long"), ("srvid", "int")],
        [(1015, 1)],
    ),
    "syscapability": (
        [("srvid", "int"), ("capid", "int")],
        [(1, 1), (1, 2), (2, 1)],
    ),
    "syscapabilityname": (
        [("capid", "int"), ("capname", "str")],
        [(1, "insert"), (2, "select")],
    ),
    # SYSOPTION (pre_migration.py:535,569,607); "option"->option_name
    "sysoption": (
        [("user_name", "str"), ("option_name", "str"), ("setting", "str")],
        [("PUBLIC", "DQP_Enabled", "ON"),
         ("PUBLIC", "CORE_Options1", "ON"),
         ("PUBLIC", "Temp_Extract_Directory", "/tmp/ext"),
         ("PUBLIC", "string_rtruncation", "ON"),
         ("PUBLIC", "Blocking", "ON"),
         ("PUBLIC", "Append_Load", "OFF")],
    ),
    # sp_iqcheckoptions() result (pre_migration.py:659,706,586,591)
    "options": (
        [("option_type", "str"), ("option_name", "str"),
         ("option_setting", "str"), ("user_name", "str")],
        [("Permanent", "MPX_options1", "ON", "PUBLIC"),
         ("Permanent", "MPX_test_options2", "ON", "PUBLIC"),
         ("Permanent", "Append_Load", "ON", "PUBLIC"),
         ("Permanent", "Force_No_Scroll_Cursors", "OFF", "PUBLIC"),
         ("Permanent", "Default_KB_Per_Stripe", "64", "PUBLIC"),
         # two names from the real dbopts vendor list so the J16
         # options∩dbopts_rules intersection stays non-trivial
         ("Permanent", "checkpoint_time", "60", "PUBLIC"),
         ("Permanent", "login_procedure", "sp_login", "PUBLIC"),
         ("Temporary", "Quoting", "OFF", "PUBLIC")],
    ),
    # SYSLOGINPOLICY / SYSLOGINPOLICYOPTION (migration.py:974)
    "sysloginpolicy": (
        [("login_policy_id", "int"), ("login_policy_name", "str")],
        [(1, "root"), (2, "app_policy")],
    ),
    "sysloginpolicyoption": (
        [("login_policy_id", "int"), ("login_option_name", "str"),
         ("login_option_value", "str")],
        [(2, "default_logical_server", "lsrv1"),
         (1, "max_connections", "100"), (1, "locked", "n")],
    ),
    # sp_iqdbspace() (pre_migration.py:105,141-147; migration.py:925)
    "dbspaces": (
        [("dbspace_name", "str"), ("dbspace_type", "str"),
         ("usage_pct", "str"), ("total_size", "str")],
        [("IQ_SYSTEM_MAIN", "MAIN", "37", "500M"),
         ("IQ_SYSTEM_TEMP", "TEMPORARY", "12", "2G"),
         ("user_dsp1", "MAIN", "55", "12G"),
         ("user_dsp2", "MAIN", "20", "1T"),
         ("IQ_SHARED_TEMP", "SHARED_TEMP", "5", "4G"),
         ("rlv_dsp", "RLV", "1", "1G")],
    ),
    # sp_iqmpxinfo()/SYSIQMPXSERVER (migration.py:322-331,2558)
    "mpx_nodes": (
        [("server_name", "str"), ("role", "str"), ("status", "str"),
         ("inc_state", "str"), ("connection_info", "str")],
        [("node_coord", "coordinator", "included", "active", "host=h0:1111"),
         ("node_w1", "writer", "included", "active", "host=h1:1111"),
         ("node_r1", "reader", "included", "active", "host=h2:1111"),
         ("node_r2", "reader", "excluded", "inactive", "host=h3:1111")],
    ),
    # db_property()/@@ scalars (common.py:334-345; pre_migration.py:201-300)
    "properties": (
        [("name", "str"), ("value", "str")],
        [("Collation", "ISO_BINENG"), ("Charset", "UTF-8"),
         ("caseSensitive", "Off"), ("readonly", "Off"),
         ("ReplicationEnabled", "Off"), ("Encryption", "None"),
         ("MaxConnections", "100"), ("servername", "iqsrv1"),
         ("version", "SAP IQ/16.1.040.1"), ("dbname", "iqdb")],
    ),
    # SYSIQFILE (pre_migration.py:503)
    "sysiqfile": (
        [("file_name", "str"), ("segment_type", "str")],
        [("main1.iq", "Local"), ("shared1.iq", "Shared"), ("main2.iq", "Local")],
    ),
    # SYSIQLOGICALSERVER (pre_migration.py:519)
    "sysiqlogicalserver": (
        [("ls_id", "int"), ("ls_name", "str")],
        [(1, "SYS_LS"), (10001, "user_ls1"), (10002, "user_ls2")],
    ),
    # existence-count tables (pre_migration.py:373-422,623)
    "syscertificate": ([("cert_id", "int"), ("cert_name", "str")],
                       [(1, "tls_root")]),
    "sysexternenv": ([("env_id", "int"), ("env_name", "str")], []),
    "sysexternenvobject": ([("object_id", "int"), ("env_id", "int")],
                           [(1, 1)]),
    "sysspatialreferencesystem": ([("srs_id", "int"), ("srs_name", "str")], []),
    "syswebservice": ([("service_id", "int"), ("service_name", "str")],
                      [(1, "ws_report")]),
    # SYSUSERPERM (migration.py:962)
    "sysuserperm": (
        [("user_name", "str")],
        [("SYS_SPATIAL_ADMIN_ROLE",), ("SYS_AUTH_DBA_ROLE",), ("app_user",)],
    ),
    # sysobjects (migration.py:711)
    "sysobjects": (
        [("name", "str"), ("uid", "int"), ("obj_type", "str")],
        [("trg_child_ins", 106, "TR"), ("t_child", 106, "U"),
         ("p_app_calc", 106, "P")],
    ),
    # per-table stats ledger: count(*)/sum(width) snapshot the reference
    # builds into iq_tables.list (migration.py:1699-1706) — sizes in bytes
    "table_stats": (
        [("table_id", "int"), ("row_count", "long"), ("size_bytes", "long")],
        [(1, 1000, 93000), (2, 200, 6585600), (3, 500, 18000), (4, 0, 0),
         (5, 300, 13200), (6, 900, 14400), (7, 50, 1000), (8, 50, 1000),
         (9, 20, 400), (10, 20, 400), (14, 2000, 1040000), (15, 10, 200),
         (16, 5, 100)],
    ),
    # extract/load checkpoint ledgers (migration.py:1896-1906,2019-2049;
    # load_schema_and_data.py:477-514,615-735)
    "extract_ledger": (
        [("owner_table", "str"), ("rowcount", "long"), ("table_id", "int"),
         ("load_type", "str")],
        [("app1.t_types", 1000, 1, "parallel"),
         ("app1.t_lob", 200, 2, "sequential"),
         ("app1.t_identity", 500, 3, "parallel"),
         ("app1.t_parent", 300, 5, "parallel"),
         ("app1.t_child", 900, 6, "parallel")],
    ),
    "load_ledger": (
        [("owner_table", "str"), ("table_id", "int"), ("rowcount", "long")],
        [("app1.t_types", 1, 1000), ("app1.t_lob", 2, 200),
         ("app1.t_parent", 5, 299)],  # t_parent short-loaded: V1 must flag
    ),
    # load failure/status queue (load_schema_and_data.py:615-617,856-874)
    "load_status": (
        [("owner_table", "str"), ("state", "str"), ("attempt", "int")],
        [("app1.t_types", "loaded", 1), ("app1.t_lob", "loaded", 1),
         ("app1.t_parent", "failed", 2), ("app1.t_child", "pending", 0),
         ("app1.t_identity", "failed", 1), ("app2.t_wide", "pending", 0)],
    ),
    # rule CSVs (pre_migration.py:643-648,689-694): populated below from
    # the packaged full vendor lists so the CSVs stay the single source
    # of truth
    "dbopts_rules": (
        [("option_name", "str")],
        [],  # filled at import time, see below
    ),
    # hosparams rule table: populated below from the packaged
    # sources/data/hosparams_noncustomer.csv so the CSV stays the
    # single source of truth (pre_migration.py:686-694)
    "hosparams_rules": (
        [("option_name", "str")],
        [],  # filled at import time, see below
    ),
    # file-copy validation fixtures (load_schema_and_data.py:342-406)
    "local_files": (
        [("path", "str"), ("size_bytes", "long")],
        [("data/1_1.gz", 1000), ("data/1_2.gz", 1000), ("data/2_1.gz", 500),
         ("data/3_1.gz", 700), ("data/5_1.gz", 300)],
    ),
    "remote_files": (
        [("path", "str"), ("size_bytes", "long")],
        [("data/1_1.gz", 1000), ("data/1_2.gz", 999), ("data/2_1.gz", 500),
         ("data/5_1.gz", 300), ("data/9_9.gz", 1)],
    ),
    # schema-load log (load_schema_and_data.py:314-340 'Could not' scan)
    "load_log": (
        [("line_no", "int"), ("line", "str")],
        [(1, "Creation of objects started."),
         (2, "CREATE TABLE app1.t_types ... done"),
         (3, "Could not execute statement: CREATE TEXT CONFIGURATION"),
         (4, "CREATE TABLE app1.t_child ... done"),
         (5, "Could not execute statement: GRANT CONNECT TO DBA"),
         (6, "Creation of objects completed.")],
    ),
}


def _rule_rows(csv_name: str) -> list[tuple]:
    from iq_to_hdl_migration_spark.sources.rule_tables import (
        load_option_names)
    return [(n,) for n in load_option_names(csv_name)]


CATALOG_FIXTURE["hosparams_rules"] = (
    CATALOG_FIXTURE["hosparams_rules"][0],
    _rule_rows("hosparams_noncustomer.csv"))
CATALOG_FIXTURE["dbopts_rules"] = (
    CATALOG_FIXTURE["dbopts_rules"][0],
    _rule_rows("dbopts_noncustomer.csv"))

_SPARK_TYPES = {"int": IntegerType(), "long": LongType(),
                "str": StringType(), "double": DoubleType()}
_DUCK_TYPES = {"int": "INTEGER", "long": "BIGINT",
               "str": "VARCHAR", "double": "DOUBLE"}


def _spark_schema(cols: list[tuple[str, str]]) -> StructType:
    return StructType([StructField(n, _SPARK_TYPES[k], True) for n, k in cols])


# Sessions with the views installed. Weak, and keyed on the session
# itself: a recycled id() of a collected session must not count.
_REGISTERED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def ensure_catalog_views(spark: SparkSession) -> None:
    """Register every fixture table as a temp view (idempotent, cheap)."""
    if spark in _REGISTERED:
        return
    for name, (cols, rows) in CATALOG_FIXTURE.items():
        # LocalRelations carry size statistics, so joins against these
        # broadcast-size snapshots (SURVEY §2.3) broadcast by stats
        local_frame(spark, rows, _spark_schema(cols)) \
            .createOrReplaceTempView(name)
    _REGISTERED.add(spark)


def _duck_lit(v, kind: str) -> str:
    ty = _DUCK_TYPES[kind]
    if v is None:
        return f"CAST(NULL AS {ty})"
    if kind == "str":
        return "'" + str(v).replace("'", "''") + "'"
    return f"CAST({v} AS {ty})"


def duckdb_cte(name: str) -> str:
    """Render one fixture table as a DuckDB CTE body."""
    cols, rows = CATALOG_FIXTURE[name]
    col_list = ", ".join(c for c, _ in cols)
    if not rows:
        empty = ", ".join(f"CAST(NULL AS {_DUCK_TYPES[k]}) AS {c}"
                          for c, k in cols)
        return f"{name}({col_list}) AS (SELECT {empty} WHERE 1=0)"
    vals = ",\n    ".join(
        "(" + ", ".join(_duck_lit(v, k) for v, (_, k) in zip(r, cols)) + ")"
        for r in rows)
    return f"{name}({col_list}) AS (SELECT * FROM (VALUES\n    {vals}))"


def duckdb_with_prefix(tables: list[str], extra_ctes: list[str] | None = None,
                       recursive: bool = False) -> str:
    """`WITH ...` prefix materializing the named fixture tables for DuckDB."""
    parts = [duckdb_cte(t) for t in tables] + list(extra_ctes or [])
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return kw + "\n" + ",\n".join(parts) + "\n"
