"""Golden tests for the DDL rewrite engine (D1-D13) on the bundled
fixture reload script — the correctness lock SURVEY §5 prescribes."""

from __future__ import annotations

from pathlib import Path

import pytest

from iq_to_hdl_migration_spark.catalog.fixture import ensure_catalog_views
from iq_to_hdl_migration_spark.ddl import engine as E
from iq_to_hdl_migration_spark.ddl import rules as R

FIXTURE = (Path(__file__).resolve().parents[1]
           / "iq_to_hdl_migration_spark/ddl/fixtures/reload_fixture.sql")


@pytest.fixture(scope="module")
def result(spark):
    ensure_catalog_views(spark)
    rules = R.compile_rules(spark, option_names=["Append_Load"])
    lines = FIXTURE.read_text().splitlines()
    return E.rewrite(lines, rules)


def _txt(result) -> str:
    return result.text()


def test_sentinels_preserved(result):
    assert E.has_completion_sentinels(
        FIXTURE.read_text().splitlines())
    assert E.SENTINEL_START in result.lines[0]


def test_fk_block_commented_and_captured(result):
    txt = _txt(result)
    assert '-- ALTER TABLE "app1"."t_child"' in txt
    assert "Foreign_Key_Constraint.sql" in txt
    fk = "\n".join(result.fk_statements)
    assert 'ALTER TABLE "app1"."t_child"' in fk
    assert "REFERENCES" in fk
    assert result.fk_statements[-1].startswith(
        "-- Creation of Foreign_Key_Constraint.sql completed.")
    # captured statements are the ORIGINAL (uncommented) lines
    assert not any(s.startswith("-- ALTER") for s in result.fk_statements)


def test_lf_hng_indexes_commented_hg_kept(result):
    txt = _txt(result)
    assert '-- CREATE LF INDEX "idx_lf_child"' in txt
    assert '-- CREATE HNG INDEX "idx_hng_wide"' in txt
    assert '\nCREATE HG INDEX "idx_hg_child"' in txt  # HG is supported


def test_external_procedure_commented_normal_kept(result):
    txt = _txt(result)
    assert '-- create procedure "app1"."p_ext_udf"' in txt
    assert "-- EXTERNAL NAME 'libudf.so'" in txt
    assert '\ncreate procedure "app1"."p_app_calc"' in txt


def test_procedure_cascade_partially_commented_body(result):
    """p_wrap's body comment stops the option rule's upward boundary
    search, leaving the procedure header uncommented — the cascade
    (D9) must then comment the whole procedure."""
    txt = _txt(result)
    assert ('-- COMMENT TO PRESERVE FORMAT ON PROCEDURE "app1"."p_ext_udf"'
            in txt)
    assert '-- create procedure "app1"."p_wrap"' in txt
    assert ('-- COMMENT TO PRESERVE FORMAT ON PROCEDURE "app1"."p_wrap"'
            in txt)
    assert "with unsupported artifacts not supported on HDL" in txt


def test_text_configuration_sys_commented(result):
    txt = _txt(result)
    assert '-- CREATE TEXT CONFIGURATION "SYS"."default_char"' in txt
    assert E.TC_BEGIN_MARK in txt


def test_domain_as_user_stripped(result):
    txt = _txt(result)
    assert 'CREATE DOMAIN "money_t" numeric(18,4) \n' in txt.replace("\r", "")
    assert 'AS USER "app1"' not in txt


def test_password_values_window_commented(result):
    assert all("password values" not in ln or ln.lstrip().startswith("--")
               for ln in _txt(result).splitlines())


def test_dbspace_renamed_and_dba_remapped(result):
    txt = _txt(result)
    assert 'IN "user_object_store"' in txt
    assert '"user_dsp1"' not in txt.replace('-- ', '')  # replaced everywhere
    # DBA -> HDLADMIN (D12) — and the GRANT CONNECT TO DBA block is
    # commented (rule GRANT CONNECT TO + DBA)
    assert "GRANT CONNECT TO HDLADMIN" in txt


def test_rlv_table_commented(result):
    assert '-- CREATE TABLE "app1"."t_rlv"' in _txt(result)


def test_remote_server_objects_commented(result):
    txt = _txt(result)
    assert '-- CREATE SERVER "rsrv_hana"' in txt


def test_grant_role_commented(result):
    assert "-- GRANT ROLE SYS_AUTH_DBA_ROLE" in _txt(result)


def test_set_option_rules(result):
    txt = _txt(result)
    assert '-- SET OPTION "PUBLIC"."Append_Load"' in txt     # from CSV rules
    assert '-- SET OPTION "PUBLIC"."CORE_Options1"' in txt   # CORE_Options
    assert '-- SET OPTION "PUBLIC"."Temp_Extract_Directory"' in txt


def test_login_policy_cloned_non_default(result):
    # fixture root policy sets max_connections=50 (non-default) -> clone
    txt = _txt(result)
    assert 'CREATE LOGIN POLICY "c_root"' in txt
    assert "ALTER LOGIN POLICY c_root" in txt
    # non-DBA users get assigned to the clone
    assert 'ALTER USER "analyst2" login policy "c_root"' in txt


def test_login_policy_defaults_come_from_rule_table(tmp_path, monkeypatch):
    """D11 compares the root policy against the packaged
    login_policy.csv: a table whose defaults match the fixture's root
    block (max_connections = 50) leaves root alone."""
    from iq_to_hdl_migration_spark.sources import rule_tables

    lines = FIXTURE.read_text().splitlines()

    def clones():
        return [h for h in E.rewrite(lines, []).hits
                if (h["rule"], h["action"]) == ("LOGIN POLICY",
                                                "clone_c_root")]

    assert clones()
    table = (rule_tables._DATA / "login_policy.csv").read_text()
    (tmp_path / "login_policy.csv").write_text(table.replace(
        "max_connections=UNLIMITED", "max_connections=50"))
    monkeypatch.setattr(rule_tables, "_DATA", tmp_path)
    assert clones() == []


def test_rule_hit_summary_follows_rule_table_edits(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """ddl_rule_hit_summary runs the engine on every call: after the
    rule tables are edited in the same process, the query reports the
    edited tables' hits, not a result remembered from the first call."""
    import shutil

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.sources import rule_tables

    fn = load_all()["ddl_rule_hit_summary"].fn

    def hits():
        return {(r["rule"], r["action"]) for r in fn(spark, sf_dir).collect()}

    assert ("LOGIN POLICY", "clone_c_root") in hits()
    data = tmp_path / "data"
    shutil.copytree(rule_tables._DATA, data)
    table = data / "login_policy.csv"
    table.write_text(table.read_text().replace(
        "max_connections=UNLIMITED", "max_connections=50"))
    monkeypatch.setattr(rule_tables, "_DATA", data)
    assert ("LOGIN POLICY", "clone_c_root") not in hits()


def test_create_dbspace_commented(result):
    assert '-- CREATE DBSPACE "user_dsp3"' in _txt(result)


def test_hits_structured(result):
    actions = {h["action"] for h in result.hits}
    assert {"comment_block", "replace", "strip_as_user", "comment_window",
            "cascade_comment", "clone_c_root"} <= actions
    assert all({"rule", "action", "line_no", "detail"} <= set(h)
               for h in result.hits)


def test_rewrite_idempotent_on_commented_output(result, spark):
    """Re-running the engine on its own output must be a no-op for
    comment rules (everything already commented)."""
    rules = R.compile_rules(spark, option_names=["Append_Load"])
    again = E.rewrite(result.lines, rules)
    n_comment_hits = [h for h in again.hits
                      if h["action"] in ("comment_block", "comment_window")]
    assert n_comment_hits == []
