"""S7/S9 schema tools: type mapping, DDL generation + execution
round-trip, config validation (S12)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (BinaryType, DecimalType, IntegerType,
                               StringType)

from iq_to_hdl_migration_spark.catalog.fixture import ensure_catalog_views
from iq_to_hdl_migration_spark.config import validate_config
from iq_to_hdl_migration_spark.schema.generate import generate_spark_ddl
from iq_to_hdl_migration_spark.schema.load import execute_ddl
from iq_to_hdl_migration_spark.schema.typemap import (
    iq_domain_to_spark, spark_struct_for_table)


def test_type_mapping():
    assert iq_domain_to_spark("integer") == IntegerType()
    assert iq_domain_to_spark("long varchar") == StringType()
    assert iq_domain_to_spark("long binary") == BinaryType()
    assert iq_domain_to_spark("unsigned bigint") == DecimalType(20, 0)
    assert iq_domain_to_spark("numeric", 12, 2) == DecimalType(12, 2)
    assert iq_domain_to_spark("weird_custom_type") == StringType()


def test_struct_from_catalog_identity_flag(spark):
    ensure_catalog_views(spark)
    st = spark_struct_for_table(spark, "app1", "t_identity")
    assert [f.name for f in st.fields] == ["id", "val"]
    assert st.fields[0].metadata.get("identity") is True
    assert st.fields[0].nullable is False


def test_generate_and_execute_ddl_roundtrip(spark):
    ensure_catalog_views(spark)
    ddls = generate_spark_ddl(spark)
    keys = [k for k, _ in ddls]
    assert "app1.t_child" in keys
    assert "app1.t_rlv" not in keys        # RLV excluded
    assert all(not k.startswith("dbo.") for k in keys)

    outcomes = execute_ddl(spark, ddls)
    try:
        assert all(o.ok for o in outcomes), [o.error for o in outcomes]
        cols = spark.table("app1__t_child").columns
        assert cols == ["pk", "parent_pk", "qty"]
    finally:
        for k, _ in ddls:
            spark.sql(f"DROP TABLE IF EXISTS `{k.replace('.', '__')}`")


def test_execute_ddl_onerror_continue(spark):
    outcomes = execute_ddl(spark, [("bad", "CREATE TABLE !!!! syntax"),
                                   ("good", "SELECT 1")])
    assert [o.ok for o in outcomes] == [False, True]
    assert outcomes[0].error
    with pytest.raises(Exception):
        execute_ddl(spark, [("bad", "CREATE TABLE !!!! syntax")],
                    on_error="abort")


def test_config_validation_rules():
    good = {"Host_Name": "h", "Port_Number": 2638, "Batch_Size_GB": 0,
            "Client_Num_Conn": 2, "Extract_Path": "/x"}
    assert all(v == "ok" for _f, _x, v, _d in validate_config(good))

    bad = dict(good, Batch_Size_GB=50, Client_Num_Conn=1,
               Extract_Path="x" * 91)
    verdicts = {f: v for f, _x, v, _d in validate_config(bad)}
    assert verdicts["Batch_Size_GB"] == "FAIL"
    assert verdicts["Client_Num_Conn"] == "FAIL"
    assert verdicts["Extract_Path"] == "FAIL"
