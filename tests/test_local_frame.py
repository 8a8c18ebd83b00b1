"""`session.local_frame`: driver-side rows become a JVM LocalRelation
with exactly the declared schema, still type-checked row by row, and
it is the package's only way to build a frame from rows."""

from __future__ import annotations

import ast
import datetime as dt
import gc
import pathlib
from decimal import Decimal

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType)

from iq_to_hdl_migration_spark.catalog import fixture
from iq_to_hdl_migration_spark.operators.temporal import bin_range_join
from iq_to_hdl_migration_spark.session import local_frame

PACKAGE = (pathlib.Path(__file__).resolve().parents[1]
           / "iq_to_hdl_migration_spark")

# every column kind the package declares for driver-side rows
ALL_KINDS = ("i int, l bigint, s string, d double, m decimal(20,0), "
             "ts timestamp, day date")
ROW = (7, 1 << 40, "x", 1.5, Decimal(12345678901234567890),
       dt.datetime(2024, 1, 2, 3, 4, 5), dt.date(2024, 1, 2))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [[], [ROW], [ROW, (None,) * 7]],
                         ids=["empty", "values", "nulls"])
def test_local_relation_with_declared_schema(spark, rows):
    df = local_frame(spark, rows, ALL_KINDS)
    assert df.schema == StructType.fromDDL(ALL_KINDS)
    assert _optimized(df).startswith("LocalRelation")
    assert [tuple(r) for r in df.collect()] == rows


def test_struct_schema_keeps_nullability(spark):
    struct = StructType([StructField("k", IntegerType(), False),
                         StructField("v", StringType(), True)])
    df = local_frame(spark, [(1, None), (2, "b")], struct)
    assert df.schema == struct
    assert sorted(tuple(r) for r in df.collect()) == [(1, None), (2, "b")]


@pytest.mark.parametrize("row, schema, err", [
    (("1",), "k int", PySparkTypeError),        # str into int
    ((1,), "d double", PySparkTypeError),       # int into double
    ((1 << 40,), "k int", PySparkValueError),   # int32 overflow
    ((True,), "k bigint", PySparkTypeError),    # bool is not an int here
    ((1.5,), "m decimal(20,0)", PySparkTypeError),
])
def test_rejects_wrong_typed_values(spark, row, schema, err):
    with pytest.raises(err):
        local_frame(spark, [row], schema)


def test_rejects_null_in_non_nullable_field(spark):
    struct = StructType([StructField("k", IntegerType(), False)])
    with pytest.raises(PySparkValueError):
        local_frame(spark, [(None,)], struct)


def test_no_create_dataframe_outside_local_frame():
    """One way to build a frame from driver rows: `createDataFrame` is
    called only inside `session.local_frame` (on an Arrow table)."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py":
            for fn in ast.walk(tree):
                if (isinstance(fn, ast.FunctionDef)
                        and fn.name == "local_frame"):
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed):
                hits.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert hits == []


def test_bin_range_join_broadcasts_local_ranges_by_stats(spark):
    fact = local_frame(spark, [(float(x),) for x in range(0, 10_000, 250)],
                       "x double")
    ranges = local_frame(spark, [("a", 0.0, 5000.0), ("b", 5000.0, 1e4)],
                         "label string, lo double, hi double")
    out = bin_range_join(fact, ranges, point="x", bin_width=1000.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert out.count() == 40


def test_catalog_views_survive_recycled_sessions(spark, monkeypatch):
    """The view registry is keyed on the session object: a new session
    that reuses a collected session's id() still gets its views."""
    monkeypatch.setattr(fixture, "CATALOG_FIXTURE",
                        {"sysuser": fixture.CATALOG_FIXTURE["sysuser"]})
    dropped: set[int] = set()
    for _ in range(200):  # CPython reuses a freed id within a few rounds
        fresh = spark.newSession()
        if id(fresh) in dropped:
            break
        fixture.ensure_catalog_views(fresh)
        dropped.add(id(fresh))
        del fresh
        gc.collect()
    fixture.ensure_catalog_views(fresh)
    assert fresh.sql("SELECT COUNT(*) FROM sysuser").first()[0] == 9
