"""DDL-rewrite rule model + compilation (SURVEY §2.8 D1/D10).

The reference drives its schema rewriter from a rule table
(`Common/DB_Artifacts.list`, 2-4 fields per row) plus ~12 catalog
queries appended at runtime (`Migration/migration.py:887-989`). Here
the same rule semantics are typed dataclasses, and rule compilation
reads the catalog *DataFrames* (fixture or JDBC snapshot) instead of
issuing remote SQL.

Rule kinds (reference behavior cited):
  * CommentRule(pattern, pat1, pat2)  — comment the whole go-delimited
    statement block when `pattern` matches a line (word-boundary,
    case-insensitive; substring for option-name rules) and pat1/pat2
    (when set) match within the block (migration.py:1110-1178).
  * ReplaceRule(src, dest)            — global word-boundary,
    case-insensitive replace (migration.py:1286-1293).
  * LineCommentRule(pattern, pat1)    — comment single lines containing
    both substrings (default_logical_server, migration.py:1238-1246).
Special-cased in the engine (D4-D9, D11): FK capture, TEXT
CONFIGURATION "SYS", CREATE DOMAIN `AS USER` strip, `password values`
±3-line window, procedure cascade, login-policy clone.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class CommentRule:
    pattern: str
    pat1: str | None = None
    pat2: str | None = None
    substring: bool = False       # option-name rules match as substring
    capture_fk: bool = False      # D4: captured to Foreign_Key_Constraint
    reason: str | None = None

    def describe(self) -> str:
        if self.reason:
            return self.reason
        parts = [p for p in (self.pat1, self.pattern, self.pat2) if p]
        return " ".join(parts) + " Not supported on HDL"


@dataclass(frozen=True)
class ReplaceRule:
    src: str
    dest: str


@dataclass(frozen=True)
class LineCommentRule:
    pattern: str
    pat1: str


# Static rule set — semantic parity with Common/DB_Artifacts.list:1-33.
BASE_RULES: list = [
    CommentRule("SPATIAL REFERENCE SYSTEM"),
    CommentRule("HDLADMIN"),
    CommentRule("SPATIAL UNIT OF MEASURE"),
    CommentRule("SYS.SYSEXTERNENV"),
    CommentRule("EXTERNAL ENVIRONMENT"),
    # password values / CREATE DOMAIN / TEXT CONFIGURATION are special-
    # cased by the engine (D5-D7) but still declared so rule reports
    # carry them:
    CommentRule("password values"),
    CommentRule("LF INDEX", "CREATE"),
    CommentRule("HNG INDEX", "CREATE"),
    CommentRule("CREATE DATABASE"),
    CommentRule("grant CREATE on"),
    CommentRule("CREATE DOMAIN"),
    CommentRule("CREATE DBSPACE"),
    CommentRule("SYS_AUTH_DBA_ROLE", "GRANT ROLE"),
    CommentRule("SYS_AUTH_RESOURCE_ROLE", "GRANT ROLE"),
    CommentRule("GRANT CONNECT TO", "DBA"),
    CommentRule("EXTERNAL NAME", "CREATE PROCEDURE"),
    CommentRule("EXTERNAL NAME", "REPLACE PROCEDURE"),
    CommentRule("EXTERNAL NAME", "ALTER PROCEDURE"),
    CommentRule("EXTERNAL NAME", "CREATE FUNCTION"),
    CommentRule("EXTERNAL NAME", "REPLACE FUNCTION"),
    CommentRule("EXTERNAL NAME", "ALTER FUNCTION"),
    CommentRule("EXTERNAL NAME", "@"),
    CommentRule("TEXT CONFIGURATION"),
    CommentRule("MPX_Options", "SET OPTION", substring=True),
    CommentRule("CORE_Options", "SET OPTION", substring=True),
    CommentRule("Memory_Leaks_Dumped", "SET OPTION"),
    CommentRule("Dbcc_Disable_Prefetch", "SET OPTION"),
    CommentRule("Temp_Extract_Directory", "SET OPTION"),
    ReplaceRule("DBA", "HDLADMIN"),
    ReplaceRule("ADD NOT NULL FOREIGN KEY", "ADD FOREIGN KEY"),
    CommentRule("SAPTU"),
    CommentRule("SAPSUPPORT"),
    CommentRule("CUSTADMIN"),
]


def compile_rules(spark: SparkSession,
                  option_names: list[str] | None = None) -> list:
    """D1: build the full rule list from the static set + the catalog
    snapshot (temp views must be registered — `ensure_catalog_views`).

    Mirrors modify_artifacts_file (migration.py:887-989): option-CSV
    comment rules, dbspace renames, SA-table comments, remote-server
    comments, capability statements, SYS_%_ROLE grants, RLV tables,
    non-root default_logical_server, revoke-dbspace, FK capture.
    """
    rules: list = list(BASE_RULES)
    sql = spark.sql

    for name in option_names or []:
        rules.append(CommentRule(name, "SET OPTION"))
        rules.append(CommentRule(name, "SET TEMPORARY OPTION"))

    for r in sql("""SELECT dbspace_name FROM dbspaces
                    WHERE UPPER(dbspace_name) != 'IQ_SYSTEM_TEMP'""").collect():
        rules.append(ReplaceRule(r.dbspace_name, "user_object_store"))

    sa_tables = sql("""
        SELECT table_name FROM systable JOIN sysuser ON user_id = creator
        WHERE user_name NOT IN ('SYS', 'rs_systabgroup', 'SA_DEBUG', 'dbo')
          AND table_type = 'BASE' AND server_type = 'SA'
    """).collect()
    for r in sa_tables:
        for pat1, pat2 in [("system", "Create table"), ("CREATE TEXT", None),
                           ("ALTER TEXT", None), ("ALTER VIEW", None),
                           ("CREATE VIEW", None), ("MATERIALIZED VIEW", None),
                           ("INDEX", "CREATE")]:
            rules.append(CommentRule(r.table_name, pat1, pat2))

    servers = sql("SELECT srvname, srvclass FROM sysserver").collect()
    for r in servers:
        rules.append(CommentRule(r.srvclass, "CREATE SERVER"))
    caps = sql("""
        SELECT s.srvname, n.capname FROM sysserver s
        JOIN syscapability c ON c.srvid = s.srvid
        JOIN syscapabilityname n ON n.capid = c.capid
    """).collect()
    for r in caps:
        rules.append(CommentRule(r.srvname, "sa_unload_define_capability",
                                 r.capname))

    for r in sql("""SELECT user_name FROM sysuserperm
                    WHERE user_name LIKE 'SYS_%_ROLE'""").collect():
        rules.append(CommentRule(r.user_name))

    for r in sql("""
        SELECT t.table_name FROM systable t
        JOIN sysuser u ON u.user_id = t.creator
        JOIN sysiqtab q ON q.table_id = t.table_id
        WHERE t.server_type = 'IQ' AND q.is_rlv = 'T'
    """).collect():
        rules.append(CommentRule(r.table_name, "CREATE TABLE",
                                 "ENABLE RLV STORE"))

    for r in sql("""
        SELECT login_option_name AS name, login_option_value AS val
        FROM sysloginpolicy lp
        JOIN sysloginpolicyoption lpo
          ON lp.login_policy_id = lpo.login_policy_id
        WHERE login_policy_name NOT IN ('root')
          AND login_option_name = 'default_logical_server'
    """).collect():
        rules.append(LineCommentRule(r.name, r.val))

    rules.append(CommentRule("revoke", "CREATE", "dbspace_name"))
    rules.append(CommentRule("revoke", "CREATE", "user_object_store"))

    n_fk = sql("""
        SELECT COUNT(*) AS n FROM systable
        JOIN sysforeignkey ON table_id = foreign_table_id
        WHERE server_type = 'IQ'
    """).collect()[0].n
    if n_fk > 0:
        rules.append(CommentRule(
            "ALTER TABLE", "FOREIGN KEY", "REFERENCES", capture_fk=True,
            reason="FOREIGN KEY ALTER TABLE REFERENCES will be created "
                   "after tables load on HDL. It will be moved to "
                   "Foreign_Key_Constraint.sql"))

    return rules
