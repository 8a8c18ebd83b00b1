"""Driver-checkable queries over the DDL rewrite engine (D1-D13).

The engine runs on the bundled fixture reload script with the fixture
catalog — fully deterministic — so its outputs are frozen as literal
golden oracles. If any rule's behavior drifts, the driver's hash check
(and tests/test_ddl_engine.py) flags it.
"""

from __future__ import annotations

import hashlib

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.catalog.fixture import ensure_catalog_views
from iq_to_hdl_migration_spark.ddl import engine as E
from iq_to_hdl_migration_spark.ddl import rules as R
from iq_to_hdl_migration_spark.queries import register
from iq_to_hdl_migration_spark.session import local_frame

_FIXTURE = Path(__file__).resolve().parents[1] / "ddl/fixtures/reload_fixture.sql"


def _result(spark: SparkSession) -> E.RewriteResult:
    """The engine's rewrite of the fixture, run on every call so the
    result always reflects the current rule tables and catalog."""
    ensure_catalog_views(spark)
    rules = R.compile_rules(spark, option_names=["Append_Load"])
    return E.rewrite(_FIXTURE.read_text().splitlines(), rules)


# Frozen golden (generated from the engine, hand-checked against the
# fixture: each trigger statement fires exactly once; password windows
# 2x; GRANT CONNECT policy assignment for app_user + analyst2; replaces
# for DBA and both dbspace names).
_GOLDEN_HITS = [
    ("ADD NOT NULL FOREIGN KEY", "replace", 1),
    ("ALTER TABLE", "comment_block", 1),
    ("Append_Load", "comment_block", 1),
    ("CORE_Options", "comment_block", 2),
    ("CREATE DBSPACE", "comment_block", 1),
    ("CREATE DOMAIN", "strip_as_user", 1),
    ("DBA", "replace", 1),
    ("EXTERNAL NAME", "comment_block", 1),
    ("GRANT CONNECT TO", "assign_policy", 2),
    ("HNG INDEX", "comment_block", 1),
    ("LF INDEX", "comment_block", 1),
    ("LOGIN POLICY", "clone_c_root", 1),
    ("SYS_AUTH_DBA_ROLE", "comment_block", 1),
    ("TEXT CONFIGURATION", "comment_block", 1),
    ("Temp_Extract_Directory", "comment_block", 1),
    ("create procedure", "cascade_comment", 1),
    ("hanaodbc", "comment_block", 1),
    ("password values", "comment_window", 2),
    ("t_rlv", "comment_block", 1),
    ("user_dsp1", "replace", 1),
    ("user_dsp2", "replace", 1),
]
_GOLDEN_MD5 = "4bd893c9f078f6d1576ae4c87bcc2547"
_GOLDEN_N_LINES = 180
_GOLDEN_N_FK = 5


def _values_sql(rows: list[tuple], cols: list[str]) -> str:
    def lit(v):
        return f"'{v}'" if isinstance(v, str) else f"CAST({v} AS BIGINT)"
    vals = ",\n    ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return (f"SELECT * FROM (VALUES\n    {vals}) AS t({', '.join(cols)})")


@register(
    "ddl_rule_hit_summary",
    oracle=_values_sql([(r, a, n) for r, a, n in _GOLDEN_HITS],
                       ["rule", "action", "n"]),
    doc="D1-D13 rule-hit report as a queryable DataFrame "
        "(migration.py:1094-1297 behaviors; golden-frozen)",
)
def ddl_rule_hit_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _result(spark)
    rows = {}
    for h in res.hits:
        key = (h["rule"], h["action"])
        rows[key] = rows.get(key, 0) + 1
    data = [(r, a, n) for (r, a), n in sorted(rows.items())]
    return local_frame(spark, data, "rule string, action string, n bigint")


@register(
    "ddl_output_digest",
    bench=True,
    oracle=_values_sql([(_GOLDEN_MD5, _GOLDEN_N_LINES, _GOLDEN_N_FK)],
                       ["text_md5", "n_lines", "n_fk_statements"]),
    doc="whole-output digest of the rewritten schema + FK capture count "
        "(D2-D13 end-to-end; golden-frozen)",
)
def ddl_output_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _result(spark)
    md5 = hashlib.md5(res.text().encode()).hexdigest()
    return local_frame(
        spark, [(md5, len(res.lines), len(res.fk_statements))],
        "text_md5 string, n_lines bigint, n_fk_statements bigint")


@register(
    "ddl_fk_statements",
    oracle=_values_sql(
        [(1, 'ALTER TABLE "app1"."t_child"'),
         (2, '    ADD FOREIGN KEY "fk_parent" ("parent_pk")'),
         (3, '    REFERENCES "app1"."t_parent" ("pk")'),
         (4, "go"),
         (5, "-- Creation of Foreign_Key_Constraint.sql completed. ")],
        ["line_no", "stmt_line"]),
    doc="D4 FK extraction: captured Foreign_Key_Constraint.sql content "
        "(applied post-load; migration.py:1339-1387)",
)
def ddl_fk_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _result(spark)
    data = [(i + 1, s) for i, s in enumerate(res.fk_statements)]
    return local_frame(spark, data, "line_no bigint, stmt_line string")
