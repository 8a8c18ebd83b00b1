"""Content-level table diff: planted add/remove/change cases and the
hash-encoding edge cases that silently corrupt naive concat compares."""

from __future__ import annotations

from iq_to_hdl_migration_spark.operators.diff import table_diff


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, a string, b string")


def test_planted_add_remove_change(spark):
    left = _df(spark, [(1, "x", "y"), (2, "p", "q"), (3, "m", "n")])
    right = _df(spark, [(1, "x", "y"), (2, "p", "CHANGED"), (4, "new", "r")])
    got = {(r.k, r.status) for r in table_diff(left, right, ["k"]).collect()}
    assert got == {(3, "removed"), (2, "changed"), (4, "added")}


def test_null_vs_empty_and_null_vs_marker(spark):
    left = _df(spark, [(1, None, "y"), (2, "", "y"), (3, "\x00NULL", "y")])
    right = _df(spark, [(1, "", "y"), (2, "", "y"), (3, None, "y")])
    got = {(r.k, r.status) for r in table_diff(left, right, ["k"]).collect()}
    # null != '' and a literal marker string != a real NULL
    assert got == {(1, "changed"), (3, "changed")}


def test_field_boundary_no_collision(spark):
    # ('ab','c') must not hash-collide with ('a','bc')
    left = _df(spark, [(1, "ab", "c")])
    right = _df(spark, [(1, "a", "bc")])
    got = [(r.k, r.status) for r in table_diff(left, right, ["k"]).collect()]
    assert got == [(1, "changed")]


def test_separator_in_value_no_collision(spark):
    # a field VALUE containing the old \x1f join separator (plus the
    # null-flag byte) must not shift bytes across field boundaries:
    # ('a\x1f0\x1fb','c') used to encode identically to
    # ('a','b\x1f0\x1fc') — a silent 'unchanged' false negative
    left = _df(spark, [(1, "a\x1f0\x1fb", "c")])
    right = _df(spark, [(1, "a", "b\x1f0\x1fc")])
    got = [(r.k, r.status) for r in table_diff(left, right, ["k"]).collect()]
    assert got == [(1, "changed")]


def test_compare_cols_subset_ignores_other_drift(spark):
    left = _df(spark, [(1, "x", "y")])
    right = _df(spark, [(1, "x", "DIFFERENT")])
    assert table_diff(left, right, ["k"], compare_cols=["a"]).count() == 0
